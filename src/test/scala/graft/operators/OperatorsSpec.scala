package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryTrace, SparkSpec}

class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  test("asof join: inclusive tie, latest-preceding, no-match, missing key") {
    val trades = Seq((1L, 10L, "t1"), (1L, 25L, "t2"), (2L, 5L, "t3"), (3L, 50L, "t4"))
      .toDF("key", "time", "trade")
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 101.0), (2L, 6L, 200.0))
      .toDF("key", "qtime", "price")
    val out = AsofJoin.asofJoin(trades, quotes, "key", "key", "time", "qtime", Seq("price"))
      .select("trade", "asof_price").as[(String, Option[Double])].collect().toMap
    assert(out("t1") === Some(100.0)) // tie at t=10 matches (>= semantics)
    assert(out("t2") === Some(101.0)) // latest preceding
    assert(out("t3") === None)        // right row is in the future
    assert(out("t4") === None)        // key absent on right
  }

  test("asof join tie-break picks last by rightOrder") {
    val l = Seq((1L, 10L)).toDF("key", "time")
    val r = Seq((1L, 10L, 7L), (1L, 10L, 9L)).toDF("key", "qtime", "qid")
    val out = AsofJoin.asofJoin(l, r, "key", "key", "time", "qtime", Seq("qid"), rightOrder = Some("qid"))
    assert(out.select("asof_qid").as[Long].head() === 9L)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup
    (4L, "completely different content about spark engines")
  ).toDF("doc_id", "text")

  test("exactDedup keeps lowest id per identical text") {
    val r = Dedup.exactDedup(docs, "text", "doc_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(r === Set((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("dropBoilerplateLines strips cross-doc lines, keeps order, handles edge docs") {
    val banner = "subscribe now"
    val lined = Seq(
      (1L, s"$banner\nalpha one\nbeta two"),
      (2L, s"$banner\ngamma three"),
      (3L, s"$banner\ndelta four\n$banner"), // within-doc duplicate boilerplate
      (4L, s"shared twice\nepsilon five"),
      (5L, s"shared twice\nzeta six"),       // "shared twice" in only 2 docs < minDocs
      (6L, banner)                           // all-boilerplate doc
    ).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(lined, "text", "doc_id", minDocs = 3)
      .as[(Long, String)].collect().toMap
    assert(out.size === 6) // one row per input doc, always
    assert(out(1L) === "alpha one\nbeta two")     // order preserved
    assert(out(2L) === "gamma three")
    assert(out(3L) === "delta four")              // both copies dropped
    assert(out(4L) === "shared twice\nepsilon five") // below threshold: kept
    assert(out(5L) === "shared twice\nzeta six")
    assert(out(6L) === "")                        // fully boilerplate → empty
    // trimming unifies padded copies: "  subscribe now  " counts as banner
    val padded = lined.unionByName(Seq((7L, s"  $banner  \neta seven")).toDF("doc_id", "text"))
    val out2 = Dedup.dropBoilerplateLines(padded, "text", "doc_id", minDocs = 4)
      .as[(Long, String)].collect().toMap
    assert(out2(7L) === "eta seven")
    // determinism under repartitioning
    val out3 = Dedup.dropBoilerplateLines(lined.repartition(7), "text", "doc_id", minDocs = 3)
      .as[(Long, String)].collect().toMap
    assert(out3 === out)
  }

  test("removeDuplicateSpans cuts later span copies, keeps boundaries and short docs") {
    val spans = Seq(
      (1L, "a b c d e f g h"),           // canonical: every window first here
      (2L, "a b c d e f g h"),           // full duplicate of doc 1
      (3L, "x y a b c d e f g h z"),     // shares doc 1's run with unique edges
      (4L, "p q")                        // shorter than k: no windows
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(spans, "text", "doc_id", k = 3)
      .as[(Long, String, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) === (("a b c d e f g h", 0L)))  // first occurrence untouched
    assert(out(2L) === (("", 8L)))                 // full dup emptied
    // doc 3 windows: starts 1,2 (contain x/y) and 9 (contains z) are
    // canonical and cover positions 1-4 and 9-11; duplicate windows
    // (starts 3..8 = doc 1's) cover 3-10 → positions 5..8 (c d e f) are
    // dup-only and cut; boundary tokens a b / g h survive
    assert(out(3L) === (("x y a b g h z", 4L)))
    assert(out(4L) === (("p q", 0L)))              // short doc passes through
    // within-doc repetition: "m n o" ×3 — windows 1..3 are canonical and
    // cover 1-5, later repeats are dup-only from position 6 on
    val rep = Seq((9L, "m n o m n o m n o")).toDF("doc_id", "text")
    val r = Dedup.removeDuplicateSpans(rep, "text", "doc_id", k = 3)
      .as[(Long, String, Long)].collect().head
    assert(r === ((9L, "m n o m n", 4L)))
    // determinism under repartitioning
    val again = Dedup.removeDuplicateSpans(spans.repartition(5), "text", "doc_id", k = 3)
      .as[(Long, String, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(again === out)
  }

  test("removeDuplicateSpans agrees with a brute-force reference on random corpora") {
    val rnd = new scala.util.Random(1234)
    def refSpans(docs: Seq[(Long, String)], k: Int): Map[Long, (String, Long)] = {
      val toks = docs.sortBy(_._1).map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
      val firstSeen = scala.collection.mutable.Map[Seq[String], (Long, Int)]()
      for ((id, ts) <- toks; ws <- 1 to ts.length - k + 1) {
        val w = ts.slice(ws - 1, ws - 1 + k)
        if (!firstSeen.contains(w)) firstSeen(w) = (id, ws)
      }
      toks.map { case (id, ts) =>
        val n = ts.length
        val wins = (1 to n - k + 1).map(ws =>
          ws -> (firstSeen(ts.slice(ws - 1, ws - 1 + k)) == (id, ws)))
        def covered(p: Int, good: Boolean) =
          wins.exists { case (ws, g) => g == good && ws <= p && p < ws + k }
        val kept = (1 to n).filter(p => covered(p, good = true) || !covered(p, good = false))
        id -> ((kept.map(p => ts(p - 1)).mkString(" "), (n - kept.size).toLong))
      }.toMap
    }
    for (trial <- 1 to 3) {
      // tiny vocabulary forces heavy window collisions within and across docs
      val vocab = Vector("a", "b", "c")
      val docs = (1L to 8L).map(id =>
        id -> Seq.fill(2 + rnd.nextInt(14))(vocab(rnd.nextInt(3))).mkString(" "))
      val out = Dedup.removeDuplicateSpans(docs.toDF("doc_id", "text"), "text", "doc_id", k = 3)
        .as[(Long, String, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
      assert(out === refSpans(docs, 3), s"trial $trial on $docs")
    }
  }

  test("dropBoilerplateLines agrees with a brute-force reference on random corpora") {
    val rnd = new scala.util.Random(5678)
    def refLines(docs: Seq[(Long, String)], minDocs: Int): Map[Long, String] = {
      val lines = docs.map { case (id, t) => id -> t.split("\n", -1).toSeq }
      val counts = lines.flatMap { case (id, ls) => ls.map(_.trim).distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      lines.map { case (id, ls) =>
        id -> ls.filter(l => counts(l.trim) < minDocs).mkString("\n")
      }.toMap
    }
    val pool = Vector("alpha beta", "gamma", "  alpha beta  ", "delta epsilon", "zeta", "eta theta")
    for (trial <- 1 to 3) {
      val docs = (1L to 7L).map(id =>
        id -> Seq.fill(1 + rnd.nextInt(5))(pool(rnd.nextInt(pool.size))).mkString("\n"))
      val minDocs = 2 + rnd.nextInt(2)
      val out = Dedup.dropBoilerplateLines(docs.toDF("doc_id", "text"), "text", "doc_id", minDocs)
        .as[(Long, String)].collect().toMap
      assert(out === refLines(docs, minDocs), s"trial $trial minDocs=$minDocs on $docs")
    }
  }

  test("minHashLsh finds exact pair with jaccard 1.0 and near pair high") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs.get((1L, 3L)).forall(_ > 0.5)) // candidate only if some band collides
    assert(!pairs.contains((1L, 4L)))
  }

  test("minHashLsh portable-id mode finds the same verified pairs as the hashed default") {
    val dict = Dedup.minHashLsh(docs, "text", "doc_id", threshold = 0.5, portableIds = true)
      .select("doc1", "doc2", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val hashed = Dedup.minHashLsh(docs, "text", "doc_id", threshold = 0.5)
      .select("doc1", "doc2", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // exact-dup pair must survive in both modes with jaccard 1.0; verified
    // jaccards agree wherever both modes produced the candidate
    assert(hashed((1L, 2L)) === 1.0)
    hashed.keySet.intersect(dict.keySet).foreach { k => assert(hashed(k) === dict(k)) }
  }

  test("nearDupSourceAttribution rolls pairs into a normalized source matrix") {
    // mirrorB republishes srcA's doc verbatim (cross-source entry);
    // srcA also templates internally (diagonal entry); doc 6 is unrelated
    val attributed = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "srcA"),
      (2L, "the quick brown fox jumps over the lazy dog today", "mirrorB"),
      (4L, "completely different content with its own words here", "srcA"),
      (5L, "completely different content with its own words here", "srcA"),
      (6L, "nothing shared with any of the documents above at all", "srcC"))
      .toDF("doc_id", "text", "source")
    val m = Dedup.nearDupSourceAttribution(attributed, "text", "doc_id",
        "source", threshold = 0.5)
      .as[(String, String, Long, Double)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    // source pair is (least, greatest) regardless of doc order
    assert(m(("mirrorB", "srcA")) === ((1L, 1.0)))
    assert(m(("srcA", "srcA")) === ((1L, 1.0)))
    assert(m.size === 2) // srcC shares nothing
  }

  test("incrementalMinHashDedup drops corpus near-dups and higher-id batch dups") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),  // exact dup of corpus 1 → drop
      (11L, "the quick brown fox jumps over the lazy cat"),  // near dup of corpus 1 → drop
      (12L, "a wholly novel document about spark engines and nothing else"),
      (13L, "a wholly novel document about spark engines and nothing else"), // dup of 12 → drop
      (14L, "tiny doc"),                                     // < 3 tokens: no shingles, passes
      (15L, "unrelated fresh content describing distributed joins at scale")
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalMinHashDedup(batch, corpus, "text", "doc_id",
      threshold = 0.5).as[Long].collect().toSet
    assert(kept === Set(12L, 14L, 15L))
    val keptPortable = Dedup.incrementalMinHashDedup(batch, corpus, "text", "doc_id",
      threshold = 0.5, portableIds = true).as[Long].collect().toSet
    assert(keptPortable === kept)
  }

  test("incrementalCore diagnostics: off by default, deterministic work profile when on") {
    // the work profile is recorded into the calling thread's QueryTrace:
    // "on" is running inside one, "off" is running outside any
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "a wholly novel document about spark engines and nothing else"),
      (12L, "a wholly novel document about spark engines and nothing else")
    ).toDF("doc_id", "text")
    def counts(c: org.apache.spark.sql.DataFrame): Map[String, String] =
      QueryTrace.run(spark)(
        Dedup.incrementalMinHashDedup(batch, c, "text", "doc_id", 0.5).count()
      )._2.attributes.toMap
    val c1 = counts(corpus)
    assert(c1.keySet === Set("cand_corpus", "cand_batch"))
    // doc 10 is an exact dup of corpus doc 1 → they share every band, so
    // the vs-corpus band join emits at least one candidate; 11/12 are an
    // exact within-batch pair likewise. -1 would mean the observe metric
    // was lost (observe-through-localCheckpoint broke).
    assert(c1("cand_corpus").toDouble >= 1.0 && c1("cand_batch").toDouble >= 1.0)
    // the counts are pure functions of the inputs — the whole point: a
    // wall-clock swing at FLAT counts is proven environmental
    assert(counts(corpus) === c1)
    // cross-check against a band histogram: Σ nb·nc over the bands both
    // sides share, and Σ nb·(nb − 1) / 2 within the batch
    def bands(df: org.apache.spark.sql.DataFrame) = Dedup.lshBands(
      Dedup.signatureStore(df, "text", "doc_id"), Dedup.DefaultPerms, 4)
      .groupBy("band").agg(count(lit(1)).as("n"))
    val (nb, nc) = (bands(batch), bands(corpus).withColumnRenamed("n", "nc"))
    assert(c1("cand_corpus").toDouble.toLong ===
      nb.join(nc, "band").agg(sum(col("n") * col("nc"))).head().getLong(0))
    assert(c1("cand_batch").toDouble.toLong ===
      nb.agg(sum(col("n") * (col("n") - 1))).head().getLong(0) / 2)
    // an EMPTY corpus side optimizes the observed band join away
    // entirely (PropagateEmptyRelation) — the count must read as the
    // true 0, not as the metric-lost -1 (the first ingest cycle's shape)
    val cEmpty = counts(corpus.limit(0))
    assert(cEmpty("cand_corpus").toDouble === 0.0)
    assert(cEmpty("cand_batch").toDouble >= 1.0)
    // outside a trace nothing is recorded — not even into a trace open on
    // another thread at the same time (this thread is built before it)
    val untraced = new Thread(() =>
      Dedup.incrementalMinHashDedup(batch, corpus, "text", "doc_id", 0.5).count(): Unit)
    val (_, other) = QueryTrace.run(spark) { untraced.start(); untraced.join() }
    assert(other.attributes.isEmpty)
  }

  test("incrementalCore diagnostics are keyed per producer: streams do not interleave profiles") {
    // two producers dedup at the same time, each inside its own trace: each
    // trace holds exactly its own producer's counts, as if it ran alone
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val batchA = Seq((10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val batchB = Seq(
      (20L, "a wholly novel document about spark engines and nothing else"),
      (21L, "a wholly novel document about spark engines and nothing else")
    ).toDF("doc_id", "text")
    def counts(b: org.apache.spark.sql.DataFrame): Map[String, String] =
      QueryTrace.run(spark)(
        Dedup.incrementalMinHashDedup(b, corpus, "text", "doc_id", 0.5).count()
      )._2.attributes.toMap
    val (aloneA, aloneB) = (counts(batchA), counts(batchB))
    // A shares every band with the corpus and has no within-batch pair;
    // B is the other way round — so an interleaving would show
    assert(aloneA("cand_corpus").toDouble >= 1.0 && aloneA("cand_batch").toDouble === 0.0)
    assert(aloneB("cand_corpus").toDouble === 0.0 && aloneB("cand_batch").toDouble >= 1.0)
    // both traces open before either producer runs
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val producers = Seq("a" -> batchA, "b" -> batchB).map { case (k, b) =>
      new Thread(() =>
        try {
          val (_, t) = QueryTrace.run(spark) {
            barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
            Dedup.incrementalMinHashDedup(b, corpus, "text", "doc_id", 0.5).count()
          }
          seen.put(k, t.attributes.toMap): Unit
        } catch { case e: Throwable => errors.add(e): Unit })
    }
    producers.foreach(_.start())
    producers.foreach(_.join(120000))
    assert(errors.isEmpty, errors)
    assert(seen.get("a") === aloneA)
    assert(seen.get("b") === aloneB)
  }

  test("signature-store dedup equals the recompute path through a parquet round-trip") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy cat"),
      (11L, "a wholly novel document about spark engines and nothing else"),
      (12L, "a wholly novel document about spark engines and nothing else")
    ).toDF("doc_id", "text")
    val direct = Dedup.incrementalMinHashDedup(batch, corpus, "text", "doc_id",
      threshold = 0.5).as[Long].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("sigstore_spec")
    try {
      Dedup.signatureStore(corpus, "text", "doc_id")
        .write.mode("overwrite").parquet(dir.toString)
      val store = spark.read.parquet(dir.toString)
      val viaStore = Dedup.incrementalMinHashDedupFromStore(
          batch, store, "text", "doc_id", threshold = 0.5)
        .as[Long].collect().toSet
      assert(viaStore === direct && direct === Set(11L))
      // scheme mismatch fails loudly instead of silently keeping every dup
      val err = intercept[IllegalArgumentException] {
        Dedup.incrementalMinHashDedupFromStore(batch, store, "text", "doc_id",
          threshold = 0.5, portableIds = true)
      }
      assert(err.getMessage.contains("signature store"))
      // a store APPENDED under a second scheme must fail even though some
      // rows still match the probe scheme — a sampled-row check would let
      // the mismatched rows silently keep their near-dups
      Dedup.signatureStore(corpus, "text", "doc_id", shingle = 4)
        .write.mode("append").parquet(dir.toString)
      val mixed = spark.read.parquet(dir.toString)
      val err2 = intercept[IllegalArgumentException] {
        Dedup.incrementalMinHashDedupFromStore(batch, mixed, "text", "doc_id",
          threshold = 0.5)
      }
      assert(err2.getMessage.contains("scheme"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("dedupClusters collapses transitive pairs to min-id keepers") {
    // chain 1~2, 2~3 (transitive cluster {1,2,3}) + isolated pair 7~9
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc1", "doc2")
    val r = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("dedupClusters small-graph union-find equals the distributed path") {
    // a long chain (worst case for per-round propagation), a star, reversed
    // edge order, and a 2-cycle duplicate pair
    val pairs = ((1L to 20L).sliding(2).map(s => (s(1), s.head)) ++
      Seq((50L, 60L), (50L, 70L), (50L, 80L), (90L, 91L), (91L, 90L))).toSeq
      .toDF("doc1", "doc2")
    val fast = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.dedupClusters(pairs, smallGraphMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast === dist)
    assert(fast(20L) === 1L && fast(80L) === 50L && fast(91L) === 90L)
  }

  test("dupSpanStats counts windows shared verbatim with another doc") {
    // doc 1 and doc 2 share one exact 4-token span ("c d e f"); doc 3 is
    // unrelated; doc 4 is too short for any window
    val df = Seq(
      (1L, "a b c d e f"),       // windows: abcd bcde cdef
      (2L, "c d e f x y"),       // windows: cdef defx efxy
      (3L, "p q r s t u"),       // windows: pqrs qrst rstu
      (4L, "z z")                // < 4 tokens: excluded
    ).toDF("doc_id", "text")
    val r = Dedup.dupSpanStats(df, "text", "doc_id", window = 4)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(r.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(r.map(_._2).toSeq === Seq(3L, 3L, 3L))      // windows per doc
    assert(r.map(_._3).toSeq === Seq(1L, 1L, 0L))      // shared: cdef only
    assert(r(0)._4 === 0.333333 && r(2)._4 === 0.0)
    // a span repeated WITHIN one doc only is not "shared"
    val self = Seq((1L, "a b c d a b c d")).toDF("doc_id", "text")
    val rs = Dedup.dupSpanStats(self, "text", "doc_id", window = 4)
      .as[(Long, Long, Long, Double)].collect().head
    assert(rs._3 === 0L)
  }

  test("simHash identical docs share signature; different docs differ") {
    val sh = Dedup.simHash(docs, "text", "doc_id").as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(4L))
  }

  test("ngramJaccard finds near-identical pair within block") {
    val blocked = docs.withColumn("blk", lit(1))
    val pairs = Dedup.ngramJaccard(blocked, "text", "doc_id", Seq("blk"), n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
  }

  test("embeddingNearDup within block by cosine") {
    val vecs = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.999f, 0.01f)), (3L, 0, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val r = Dedup.embeddingNearDup(vecs, "embedding", "vec_id", "label", 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(r === Set((1L, 2L)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._
  import Similarity.{Frame, Ivf, IvfMass, IvfStore, Lsh, Pq, Prefix, Sq8,
    Sq8Store, topK}

  lazy val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.9f, -0.1f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)), (3L, Seq(-1.0f, 0.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("cosineTopK ranks self first, antipode last") {
    val r = topK(vecs.filter($"vec_id" === 0), Frame(vecs), "embedding", "vec_id", 4)
      .select("vec_id", "rank").as[(Long, Int)].collect().toMap
    assert(r(0L) === 1) // self similarity 1.0
    assert(r(1L) === 2)
    assert(r(3L) === 4) // cosine -1
  }

  test("bucketedTopK only scores same-bucket candidates") {
    val r = topK(vecs.filter($"vec_id" === 0), Frame(vecs), "embedding", "vec_id", 4, Lsh(bits = 2))
      .select("vec_id").as[Long].collect().toSet
    assert(r.contains(0L) && r.contains(1L)) // bucket 1 (dim0 > 0)
    assert(!r.contains(3L))                  // bucket 0
  }

  test("sq8TopK is lossless on grid-point values: equals cosineTopK exactly") {
    // every component sits on the 256-point [min,max] grid (0 or 1), so
    // dequantization reconstructs the input bit-for-bit — including a
    // constant dimension exercising the degenerate-span guard
    val grid = Seq(
      (0L, Seq(1.0f, 0.0f, 0.5f)), (1L, Seq(0.0f, 1.0f, 0.5f)),
      (2L, Seq(1.0f, 1.0f, 0.5f)), (3L, Seq(0.0f, 0.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "cos", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val exact = rows(topK(grid.filter($"vec_id" < 2), Frame(grid),
      "embedding", "vec_id", 4))
    val sq = rows(topK(grid.filter($"vec_id" < 2), Frame(grid),
      "embedding", "vec_id", 4, code = Sq8))
    assert(sq === exact)
  }

  test("sq8TopK top-10 overlaps exact top-10 heavily on real embeddings") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    def top(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = top(topK(q, Frame(e), "embedding", "vec_id", 10))
    val sq = top(topK(q, Frame(e), "embedding", "vec_id", 10, code = Sq8))
    // 1-byte/dim quantization at 64 dims is near-lossless; require >= 80%
    assert((exact intersect sq).size >= 40, s"overlap ${(exact intersect sq).size}/50")
  }

  test("persisted SQ8 index round-trips bit-identically to the direct path") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val dir = java.nio.file.Files.createTempDirectory("sq8idx_spec")
    try {
      Similarity.buildSq8Index(e, "embedding", "vec_id", dir.toString)
      val direct = topK(q, Frame(e), "embedding", "vec_id", 10, code = Sq8)
        .select("query_id", "vec_id", "cos", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val stored = topK(q, Sq8Store(dir.toString),
          "embedding", "vec_id", 10, code = Sq8)
        .select("query_id", "vec_id", "cos", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(stored === direct)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("ivfSq8TopK with probes covering all cells equals plain sq8TopK") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "cos", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    // centroidMod 100 over 500 vectors → 5 cells; probes = 5 voids pruning
    val sq = rows(topK(q, Frame(e), "embedding", "vec_id", 10, code = Sq8))
    val comp = rows(topK(q, Frame(e), "embedding", "vec_id", 10,
      Ivf(centroidMod = 100, probes = 5), Sq8))
    assert(comp === sq)
  }

  test("mass-adaptive probing: massFrac = 1 equals plain sq8TopK, 0.25 stays confined") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "cos", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    // covering the full corpus mass voids pruning — bit-identical
    val sq = rows(topK(q, Frame(e), "embedding", "vec_id", 10, code = Sq8))
    val full = rows(topK(q, Frame(e), "embedding", "vec_id",
      10, IvfMass(centroidMod = 100, massFrac = 1.0), Sq8))
    assert(full === sq)
    // a real mass target still returns k rows per query (the first cell is
    // always kept, so no query can end up probing nothing)
    val confined = topK(q, Frame(e), "embedding", "vec_id",
      10, IvfMass(centroidMod = 100, massFrac = 0.25), Sq8)
    val perQuery = confined.groupBy("query_id").count()
      .as[(Long, Long)].collect().toMap
    assert(perQuery.size === 5 && perQuery.values.forall(_ == 10))
    // same contract on the float IVF form
    val exact = topK(q, Frame(e), "embedding", "vec_id", 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivfFull = topK(q, Frame(e), "embedding", "vec_id",
        10, IvfMass(centroidMod = 100, massFrac = 1.0))
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(ivfFull === exact)
  }

  test("truncatedRerank with a full-corpus shortlist equals cosineTopK") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter($"vec_id" < 3)
    val exact = topK(q, Frame(e), "embedding", "vec_id", 10)
      .select("query_id", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    val fun = topK(q, Frame(e), "embedding", "vec_id",
        k = 10, Prefix(dims = 8, shortlist = 500))
      .select("query_id", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(fun === exact)
  }

  test("topK combination matrix: void pruning equals exhaustive, sim.ann costs no job, bad combinations are refused") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // centroidMod 100 over 500 vectors → 5 cells: each arm below prunes
    // nothing, so it must return the exhaustive ranking of its code
    val voidPruning = Seq(
      ("ivf/float/frame", Ivf(centroidMod = 100, probes = 5), Similarity.Float),
      ("ivf-mass/float/frame", IvfMass(centroidMod = 100, massFrac = 1.0),
        Similarity.Float),
      ("ivf-mass/pq/frame", IvfMass(centroidMod = 100, massFrac = 1.0), Pq()))
    for ((ann, coarse, code) <- voidPruning) withClue(s"$ann: ") {
      val (arm, trace) = QueryTrace.run(spark)(
        topK(q, Frame(e), "embedding", "vec_id", 10, coarse, code))
      assert(trace("sim.ann") === ann)
      val exhaustive = rows(topK(q, Frame(e), "embedding", "vec_id", 10,
        code = code))
      assert(exhaustive.size === 50)
      assert(rows(arm) === exhaustive)
    }
    // recording the combination starts no Spark job: building the
    // exhaustive ranking runs none at all, and building the mass-probed
    // one runs exactly the centroid count its expansion bound needs
    val (_, exhaustive) = QueryTrace.run(spark)(
      topK(q, Frame(e), "embedding", "vec_id", 10))
    assert(exhaustive("sim.ann") === "exhaustive/float/frame")
    assert(exhaustive.totals.jobs === 0L)
    val (_, mass) = QueryTrace.run(spark)(
      topK(q, Frame(e), "embedding", "vec_id", 10, IvfMass(centroidMod = 100)))
    val (_, centroidCount) = QueryTrace.run(spark)(e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cv0")).count())
    assert(mass("sim.ann") === "ivf-mass/float/frame")
    assert(mass.totals.jobs === centroidCount.totals.jobs)
    val dir = java.nio.file.Files.createTempDirectory("ann_matrix_spec")
    try {
      Similarity.buildIvfIndex(e, "embedding", "vec_id", dir.toString,
        centroidMod = 100)
      val store = dir.toString
      val refused: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        "filter names 50" -> (() => topK(q, IvfStore(store), "embedding",
          "vec_id", 10, IvfMass(centroidMod = 50))),
        "ivf/sq8/sq8-store" -> (() => topK(q, Sq8Store(store), "embedding",
          "vec_id", 10, Ivf(), Sq8)),
        "lsh/pq/frame" -> (() => topK(q, Frame(e), "embedding", "vec_id", 10,
          Lsh(), Pq())),
        "exhaustive/float/ivf-store" -> (() => topK(q, IvfStore(store),
          "embedding", "vec_id", 10)))
      for ((fragment, call) <- refused) withClue(s"$fragment: ") {
        val err = intercept[IllegalArgumentException](call())
        assert(err.getMessage.contains(fragment))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("truncatedRerank never surfaces a candidate outside its coarse shortlist") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter($"vec_id" < 3)
    val cosP = topK(
        q.withColumn("embedding", slice($"embedding", 1, 8)),
        Frame(e.withColumn("embedding", slice($"embedding", 1, 8))),
        "embedding", "vec_id", 20)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val fun = topK(q, Frame(e), "embedding", "vec_id",
        k = 10, Prefix(dims = 8, shortlist = 20))
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(fun.subsetOf(cosP))
  }
}

class SamplingSpec extends graft.SparkSpec {
  import spark.implicits._

  lazy val keys = (1L to 2000L).toDF("k")

  test("hashSplit is deterministic and near the requested fraction") {
    val s1 = Sampling.hashSplit(keys, "k", trainBuckets = 205)
      .as[(Long, String)].collect().toMap
    val s2 = Sampling.hashSplit(keys, "k", trainBuckets = 205)
      .as[(Long, String)].collect().toMap
    assert(s1 === s2) // pure function of the key
    val frac = s1.values.count(_ == "train").toDouble / s1.size
    assert(frac > 0.74 && frac < 0.86) // 205/256 = 0.80 ± binomial noise
  }

  test("deterministicSample is monotone in bucket count and stable") {
    val small = Sampling.deterministicSample(keys, "k", 64).as[Long].collect().toSet
    val large = Sampling.deterministicSample(keys, "k", 128).as[Long].collect().toSet
    assert(small.subsetOf(large)) // growing the rate only ADDS rows
    assert(Sampling.deterministicSample(keys, "k", 0).count() === 0)
    assert(Sampling.deterministicSample(keys, "k", 256).count() === 2000)
  }
}

class SaltingSpec extends graft.SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on skewed data") {
    // hot key 1 dominates; the unique row id spreads it over the salts
    val left = (Seq.fill(500)(1L) ++ (2L to 50L)).zipWithIndex
      .map { case (k, i) => (k, k * 2, i.toLong) }.toDF("k", "lv", "id")
    val right = (1L to 50L).map(k => (k, s"r$k")).toDF("k", "rv")
    val plain = left.join(right, "k" :: Nil).collect().map(_.toSeq)
    val salted = Skew.saltedJoin(left, right, Seq("k"), "id", factor = 8)
      .collect().map(_.toSeq)
    assert(salted.toSet === plain.toSet)
    assert(salted.length === plain.length) // multiset: hot-key rows join once each
  }

  test("salted left join keeps unmatched rows once") {
    val left = Seq((1L, "a"), (9L, "x")).toDF("k", "lv")
    val right = Seq((1L, "r")).toDF("k", "rv")
    val out = Skew.saltedJoin(left, right, Seq("k"), "lv", 4, "left").collect()
    assert(out.length === 2)
    assert(out.count(_.isNullAt(2)) === 1) // key 9 unmatched exactly once
  }

  test("salted right/full outer joins are rejected (replication would duplicate unmatched right rows)") {
    val left = Seq((1L, "a")).toDF("k", "lv")
    val right = Seq((1L, "r"), (2L, "unmatched")).toDF("k", "rv")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(left, right, Seq("k"), "lv", 4, "right")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(left, right, Seq("k"), "lv", 4, "full_outer")
    }
    // left_semi stays allowed
    assert(Skew.saltedJoin(left, right, Seq("k"), "lv", 4, "left_semi").count() === 1)
  }

  test("the salt is a pure function of the left row, so a retried task salts alike") {
    // a nondeterministic salt (rand) makes the salted shuffle stage
    // indeterminate: a retried map task may send a row to another salt
    val left = (1L to 20L).map(k => (k % 3, k)).toDF("k", "id")
    val right = (0L to 2L).map(k => (k, s"r$k")).toDF("k", "rv")
    val plan = Skew.saltedJoin(left, right, Seq("k"), "id", factor = 8)
      .queryExecution.analyzed
    assert(!plan.exists(_.expressions.exists(!_.deterministic)))
  }

  test("hotKeys surfaces the dominant key") {
    val df = (Seq.fill(100)(7L) ++ Seq(1L, 2L, 3L)).toDF("k")
    val top = Skew.hotKeys(df, "k", 1).collect().head
    assert(top.getLong(0) === 7L && top.getLong(1) === 100L)
  }
}

class RepeatedNgramsSpec extends graft.SparkSpec {
  import spark.implicits._

  test("repeated n-grams counted across docs with doc and occurrence counts") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c y"),
      (3L, "a b c d q")).toDF("doc_id", "text")
    val out = Dedup.repeatedNgrams(docs, "text", "doc_id", n = 3, minDocs = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(out === Set(("a b c", 3L, 3L), ("b c d", 2L, 2L)))
  }

  test("a doc repeating an n-gram counts once for n_docs, each time for n_occ") {
    val docs = Seq((1L, "a b a b a b"), (2L, "a b z")).toDF("doc_id", "text")
    // "a b a" at 1,  "b a b" at 2, "a b a" at 3... n=3 windows of doc 1:
    // aba, bab, aba, bab; doc 2: "a b z". No 3-gram crosses docs.
    val out = Dedup.repeatedNgrams(docs, "text", "doc_id", n = 3, minDocs = 2)
    assert(out.count() === 0)
    val bi = Dedup.repeatedNgrams(docs, "text", "doc_id", n = 2, minDocs = 2)
      .as[(String, Long, Long)].collect().map { case (k, v, w) => k -> ((v, w)) }.toMap
    assert(bi("a b") === (2L, 4L)) // 3 occurrences in doc 1 + 1 in doc 2
  }
}

class DecontamSpansSpec extends graft.SparkSpec {
  import spark.implicits._

  test("benchmark spans are cut; boundary tokens shared with clean text survive") {
    val bench = Seq((100L, "s1 s2 s3")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b s1 s2 s3 c d"), // every token also under a clean window
      (2L, "s1 s2 s3"),         // exactly the benchmark: fully removed
      (3L, "q r")               // shorter than k: passes through
    ).toDF("doc_id", "text")
    val out = Contamination.decontaminateSpans(corpus, bench, "text", "doc_id", k = 3)
      .as[(Long, String, Long)].collect().map { case (i, c, n) => i -> ((c, n)) }.toMap
    assert(out(1L) === ("a b s1 s2 s3 c d", 0L))
    assert(out(2L) === ("", 3L))
    assert(out(3L) === ("q r", 0L))
  }

  test("a mid-document leak with no clean cover is cut exactly") {
    val bench = Seq((100L, "p q r s")).toDF("doc_id", "text")
    // doc: x p q r s y — windows (k=4): "x p q r" clean, "p q r s" BAD,
    // "q r s y" clean; p covered by w1 (clean) kept, q/r by w1/w3 kept,
    // s by w3 kept, so conservative rule keeps all. Repeat the leak with
    // no neighbors to see a real cut.
    val corpus = Seq((1L, "x p q r s y"), (2L, "p q r s")).toDF("doc_id", "text")
    val out = Contamination.decontaminateSpans(corpus, bench, "text", "doc_id", k = 4)
      .as[(Long, String, Long)].collect().map { case (i, c, n) => i -> ((c, n)) }.toMap
    assert(out(1L) === ("x p q r s y", 0L))
    assert(out(2L) === ("", 4L))
  }
}

class SnapshotDiffSpec extends graft.SparkSpec {
  import spark.implicits._

  test("full-outer hash diff labels added/removed/changed/same") {
    val oldV = Seq((1L, "alpha"), (2L, "beta"), (4L, "gone")).toDF("doc_id", "text")
    val newV = Seq((1L, "alpha"), (2L, "beta2"), (3L, "fresh")).toDF("doc_id", "text")
    val out = Snapshot.diff(oldV, newV, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "same", 2L -> "changed", 3L -> "added", 4L -> "removed"))
  }
}

class WarcSpec extends graft.SparkSpec {

  private def rec(typ: String, uri: String, payload: String): Array[Byte] = {
    val p = payload.getBytes("UTF-8")
    (s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: $uri\r\n" +
      s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++ p ++
      "\r\n\r\n".getBytes("UTF-8")
  }

  test("parses records, preserves payload bytes, survives truncation and garbage") {
    val bytes = rec("response", "http://x/", "hello") ++ rec("request", "http://x/", "GET /")
    val rs = Warc.parse(bytes)
    assert(rs.map(r => (r.recordIdx, r.warcType, r.targetUri,
      new String(r.payload, "UTF-8"))) ===
      Seq((0, "response", "http://x/", "hello"), (1, "request", "http://x/", "GET /")))
    // truncated second record: first still parses, walk stops cleanly
    val cut = bytes.dropRight(12)
    assert(Warc.parse(cut).map(_.recordIdx) === Seq(0))
    // garbage prefix is not a record start: empty, no throw
    assert(Warc.parse("not a warc at all".getBytes("UTF-8")) === Seq())
    assert(Warc.parse(Array.emptyByteArray) === Seq())
    // declared length beyond the buffer: dropped, no throw
    val lying = ("WARC/1.0\r\nContent-Length: 9999\r\n\r\nshort").getBytes("UTF-8")
    assert(Warc.parse(lying) === Seq())
  }
}

class HtmlToTextSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  test("script/style dropped with contents, tags stripped, whitespace collapsed") {
    val html = """<html><head><script src="x.js">var a = "<p>";</script>
      |<style>body { color: blue; }</style></head>
      |<body><h1>Title</h1><p>hello   <b>bold</b> world</p></body></html>""".stripMargin
    val out = Seq(html).toDF("h")
      .select(graft.operators.Web.htmlToText(col("h"))).as[String].head()
    assert(out === "Title hello bold world")
  }

  test("case-insensitive block match; empty page yields empty string") {
    val out = Seq("<SCRIPT>x</SCRIPT><p>a</p>", "<div></div>").toDF("h")
      .select(graft.operators.Web.htmlToText(col("h"))).as[String].collect()
    assert(out === Array("a", ""))
  }
}

class UrlDedupSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  test("canonicalization collapses re-fetch variants, keeps real params") {
    val urls = Seq(
      (0L, "https://www.a.example.com:443/p/1/?utm_source=x&b=2&a=1#frag"),
      (1L, "HTTPS://A.EXAMPLE.COM/p/1/"),
      (2L, "https://a.example.com/p/1?ref=crawl&fbclid=zz"),
      (3L, "https://a.example.com/p/1"),
      (4L, "https://a.example.com/p/1?a=1&b=2"), // real params, sorted = doc 0
      (5L, "http://h.example.org:80/"),
      (6L, "http://h.example.org/")).toDF("doc_id", "url")
    val out = graft.operators.Web.urlDedup(urls, "url", "doc_id")
      .as[(Long, String, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L)._1 === "https://a.example.com/p/1")
    assert(out(1L)._2 && !out(2L)._2 && !out(3L)._2) // 1 keeps, 2/3 collapse
    // tracking stripped but real params survive and order-normalize:
    // docs 0 and 4 share a canon; 0 keeps (smaller id)
    assert(out(0L)._1 === "https://a.example.com/p/1?a=1&b=2")
    assert(out(0L)._1 === out(4L)._1 && out(0L)._2 && !out(4L)._2)
    assert(out(5L)._1 === "http://h.example.org")
    assert(out(5L)._2 && !out(6L)._2) // default port == bare host
  }

  test("default-port strip is scheme-specific") {
    val urls = Seq(
      (1L, "https://h.example.com:80/x"), // NON-default binding: port kept
      (2L, "https://h.example.com/x"),
      (3L, "http://h.example.com:443/x"), // NON-default binding: port kept
      (4L, "http://h.example.com/x")).toDF("doc_id", "url")
    val canon = graft.operators.Web.urlDedup(urls, "url", "doc_id")
      .as[(Long, String, Boolean)].collect().map(t => t._1 -> t._2).toMap
    assert(canon(1L) === "https://h.example.com:80/x")
    assert(canon(3L) === "http://h.example.com:443/x")
    assert(canon.values.toSet.size === 4) // nothing conflates across schemes
  }

  test("non-http(s) and null URLs neither collapse together nor vanish") {
    val urls = Seq(
      (1L, "ftp://a.example.com/f"),
      (2L, "mailto:x@y.example"),
      (3L, "//cdn.example.com/lib.js"),
      (4L, null.asInstanceOf[String]),
      (5L, null.asInstanceOf[String]),
      (6L, "https://ok.example.com/p")).toDF("doc_id", "url")
    val out = graft.operators.Web.urlDedup(urls, "url", "doc_id")
      .as[(Long, String, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out.size === 6) // every row present — null canon not dropped
    // unknown schemes pass through verbatim: three DISTINCT canons, all kept
    assert(out(1L)._1 === "ftp://a.example.com/f" && out(1L)._2)
    assert(out(2L)._1 === "mailto:x@y.example" && out(2L)._2)
    assert(out(3L)._1 === "//cdn.example.com/lib.js" && out(3L)._2)
    // null urls form one real group with a min-id keeper
    assert(out(4L)._1 == null && out(4L)._2)
    assert(out(5L)._1 == null && !out(5L)._2)
  }
}

class OovRateSpec extends graft.SparkSpec {
  import spark.implicits._

  test("top-k vocab rank is (count desc, token asc); rate counts occurrences") {
    val docs = Seq(
      (1L, "a a a b b c"),   // counts: a=3, b=2, c=1(+1 below)=2
      (2L, "c d")).toDF("doc_id", "text")
    // k=2 vocab: a(3), then b and c tie at 2 -> b wins (token asc)
    val out = Scoring.oovRate(docs, "text", "doc_id", k = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(out(1L) === ((6L, 1L, 0.166667))) // only 'c' OOV; round(1/6, 6)
    assert(out(2L) === ((2L, 2L, 1.0)))      // c and d both OOV
  }
}

class SourceOverlapSpec extends graft.SparkSpec {
  import spark.implicits._

  test("pairwise distinct-shingle intersections, lexicographic pair order") {
    val docs = Seq(
      ("s1", "a b c d"),     // shingles: abc, bcd
      ("s2", "a b c x"),     // abc, bcx
      ("s2", "b c d y"),     // bcd, cdy
      ("s3", "z z z")).toDF("source", "text") // zzz only
    val out = Contamination.sourceOverlap(docs, "text", "source", k = 3)
      .as[(String, String, Long)].collect().toSet
    // s1 ∩ s2 = {abc, bcd}; s3 shares nothing
    assert(out === Set(("s1", "s2", 2L)))
  }
}

class TrigramPplSpec extends graft.SparkSpec {
  import spark.implicits._

  test("context sensitivity: repeated phrasing scores lower than scrambled; short docs excluded") {
    val canon = "the cat sat on the mat"
    val docs = ((1L to 6L).map(i => (i, canon)) ++
      Seq((7L, "mat the on sat cat the"), // same unigrams, broken order
        (8L, "xy zq")))                   // < 3 tokens: no transitions
      .toDF("doc_id", "text")
    val out = Scoring.trigramLogLoss(docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(!out.contains(8L))
    assert(out(1L)._1 === 4L) // 6 tokens -> 4 transitions
    assert(out(1L)._2 < out(7L)._2, s"in-order ${out(1L)} !< scrambled ${out(7L)}")
    // determinism under repartitioning
    val again = Scoring.trigramLogLoss(docs.toDF.repartition(5), "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(again === out)
  }
}

class StandardizeSpec extends graft.SparkSpec {
  import spark.implicits._

  test("z-scores per dimension; constant dims report 0; order-free") {
    val df = Seq(
      (1L, Seq(1.0, 5.0, 7.0)),
      (2L, Seq(3.0, 5.0, 9.0))).toDF("vec_id", "embedding")
    val out = Similarity.standardize(df, "embedding", "vec_id")
      .as[(Long, Int, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    // dim 0: mean 2, std 1 -> z = ∓1; dim 1 constant -> 0; dim 2: mean 8, std 1
    assert(out((1L, 0)) === -1.0 && out((2L, 0)) === 1.0)
    assert(out((1L, 1)) === 0.0 && out((2L, 1)) === 0.0)
    assert(out((1L, 2)) === -1.0 && out((2L, 2)) === 1.0)
    val again = Similarity.standardize(df.repartition(5), "embedding", "vec_id")
      .as[(Long, Int, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(again === out)
  }
}

class ClusteringCoeffSpec extends graft.SparkSpec {
  import spark.implicits._

  test("triangle + pendant graph: exact coefficients, direction-insensitive") {
    // triangle 1-2-3 plus pendant 4 attached to 1; mixed edge directions
    val edges = Seq((1L, 2L), (3L, 2L), (1L, 3L), (4L, 1L)).toDF("src", "dst")
    val out = graft.graph.PropertyGraph.fromEdges(edges)
      .clusteringCoefficient()
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(out(1L) === ((3L, 1L, round2(2.0 / 6))))  // deg 3, 1 triangle, cc = 1/3
    assert(out(2L) === ((2L, 1L, 1.0)))
    assert(out(3L) === ((2L, 1L, 1.0)))
    assert(out(4L) === ((1L, 0L, 0.0)))              // degree 1 -> 0
  }

  private def round2(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}

class PowerIterationSpec extends graft.SparkSpec {
  import spark.implicits._

  test("recovers the dominant direction, unit norm, deterministic") {
    // data concentrated along (3, 4)/5 with small off-axis noise — power
    // iteration must converge to ±(0.6, 0.8)
    val rows = (1L to 40L).map { i =>
      val t = (i % 7).toDouble - 3.0
      val noise = ((i % 3).toDouble - 1.0) * 0.01
      (i, Seq(3.0 * t + noise * 4.0, 4.0 * t - noise * 3.0))
    }
    val df = rows.toDF("vec_id", "embedding")
    val (proj, v) = Clustering.powerIterationPc1(df, "embedding", "vec_id", iters = 8)
    assert(math.abs(math.abs(v(0)) - 0.6) < 1e-3 && math.abs(math.abs(v(1)) - 0.8) < 1e-3)
    assert(math.abs(v.map(z => z * z).sum - 1.0) < 1e-5) // unit norm
    val (_, v2) = Clustering.powerIterationPc1(df.repartition(7), "embedding", "vec_id", iters = 8)
    assert(v.toSeq === v2.toSeq) // order-free: repartitioning changes nothing
    // projections are the dot with the returned direction
    val p = proj.as[(Long, Double)].collect().toMap
    val expect1 = BigDecimal(rows.head._2.zip(v).map { case (a, b) => a * b }.sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(p(1L) - expect1) < 2e-6)
  }
}

class LuhnScrubSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private def scrub(s: String): String =
    Seq(s).toDF("t")
      .select(graft.functions.NativeExpressions.luhnScrubNative(col("t")))
      .as[String].head()

  test("valid 13-19 digit runs masked; short, long, invalid, and embedded runs handled") {
    assert(scrub("pay 4532015112830366 now") === "pay [CC] now")
    assert(scrub("ref 4532015112830367 now") === "ref 4532015112830367 now") // checksum fails
    assert(scrub("code 379254 end") === "code 379254 end")                   // too short
    assert(scrub("id 12345678901234567890 end") === "id 12345678901234567890 end") // 20 digits
    assert(scrub("x4532015112830366y") === "x[CC]y")  // letters don't break the run
    assert(scrub("4532-0151-1283-0366") === "4532-0151-1283-0366") // separators split runs (each too short)
    assert(scrub("") === "")
    // a Luhn-valid 13-digit run (Visa test shape): 4222222222222
    assert(scrub("v 4222222222222 !") === "v [CC] !")
    // two valid runs in one string both masked
    assert(scrub("4532015112830366 4222222222222") === "[CC] [CC]")
  }
}

class GopherRulesSpec extends graft.SparkSpec {
  import spark.implicits._

  test("signals and verdict on hand-computed docs") {
    val good = (Seq("the", "of", "and") ++ Seq.fill(47)("word")).mkString(" ") // 50 words
    val docs = Seq(
      (1L, good),                         // passes every rule
      (2L, "the of and short doc"),       // 5 words < 50
      (3L, ("the of " + Seq.fill(48)("### ... ###").mkString(" ")))  // symbol-heavy
    ).toDF("doc_id", "text")
    val out = Scoring.gopherRules(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    val g = out(1L)
    assert(g.getAs[Long]("n_words") === 50L)
    assert(g.getAs[Double]("mean_word_len") === (3 + 2 + 3 + 47 * 4) / 50.0)
    assert(g.getAs[Double]("symbol_ratio") === 0.0)
    assert(g.getAs[Double]("alpha_frac") === 1.0)
    assert(g.getAs[Long]("stop_hits") === 3L)
    assert(g.getAs[Boolean]("kept"))
    assert(!out(2L).getAs[Boolean]("kept")) // word count below 50
    val s = out(3L)
    // 48 groups of "### ... ###": 6 '#' + 1 '...' each → symbols/word ≥ 0.1
    assert(s.getAs[Double]("symbol_ratio") > 0.1)
    assert(!s.getAs[Boolean]("kept"))
  }
}

class NgramRepCharsSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.{col, element_at}

  private def repRef(toks: Seq[String], n: Int): (Long, Long, Long) = {
    val total = toks.map(_.length.toLong).sum
    if (toks.length < n) return (0L, 0L, total)
    val wins = toks.sliding(n).map(_.mkString(" ")).toVector
    val counts = wins.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val top = counts.map { case (g, c) => c * (g.length - (n - 1)) }.max
    val covered = Array.fill(toks.length)(false)
    wins.zipWithIndex.foreach { case (g, i) =>
      if (counts(g) >= 2) (i until i + n).foreach(covered(_) = true)
    }
    val dup = toks.indices.collect { case i if covered(i) => toks(i).length.toLong }.sum
    (top, dup, total)
  }

  test("one-pass repetition signals agree with a brute-force reference") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "b", "ccc", "dd")
    for (n <- Seq(2, 3, 5); trial <- 1 to 3) {
      val docs = (1L to 6L).map(id =>
        id -> Seq.fill(n + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val out = docs.toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.functions.NativeExpressions.ngramRepCharsNative(
            graft.functions.TextFunctions.tokens(col("text")), n).as("r"))
        .select(col("doc_id"), element_at(col("r"), 1), element_at(col("r"), 2),
          element_at(col("r"), 3))
        .as[(Long, Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      docs.foreach { case (id, text) =>
        val expect = repRef(text.split(" ").toSeq, n)
        assert(out(id) === expect, s"n=$n trial=$trial doc=$text")
      }
    }
  }

  test("short docs carry zero signals but full char totals") {
    val out = Seq((1L, "x yz")).toDF("doc_id", "text")
      .select(graft.functions.NativeExpressions.ngramRepCharsNative(
        graft.functions.TextFunctions.tokens(col("text")), 5).as("r"))
      .select(element_at(col("r"), 1), element_at(col("r"), 2), element_at(col("r"), 3))
      .as[(Long, Long, Long)].head()
    assert(out === ((0L, 0L, 3L)))
  }
}

class DomainWeightsSpec extends graft.SparkSpec {
  import spark.implicits._

  test("surprising domains upweighted; weights positive and sum to 1") {
    // domain "common": the same frequent tokens; domain "rare": singleton
    // tokens the corpus LM finds surprising
    val docs = ((1L to 8L).map(i => (i, "the cat sat on the mat", "common")) ++
      (9L to 12L).map(i => (i, s"zeta$i omega$i lambda$i", "rare")))
      .toDF("doc_id", "text", "source")
    val out = Scoring.domainWeights(docs, "text", "doc_id", "source")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, nCommon, snllCommon, excessCommon, wCommon) = out("common")
    val (_, nRare, snllRare, excessRare, wRare) = out("rare")
    assert(nCommon === 8L && nRare === 4L)
    assert(snllRare > snllCommon)
    assert(excessRare > 0.0 && excessCommon === 0.0)
    assert(wRare > wCommon && wCommon > 0.0)
    assert(math.abs(wRare + wCommon - 1.0) < 1e-5)
  }
}

class EditDistanceNearDupSpec extends graft.SparkSpec {
  import spark.implicits._

  test("typo'd copy found within its block; far text excluded by the bound") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamna delta"),  // 1 substitution — same block
      (3L, "alpha qqqq rrrr sss ttt"), // same first token + band, far text
      (4L, "blpha beta gamma delta"),  // dist 1 but different first token
      (5L, "alpha zz"))                // different length band
      .toDF("doc_id", "text")
    val out = Dedup.editDistanceNearDup(docs, "text", "doc_id", maxDist = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 2L, 1L)))
  }

  test("pair order is canonical (a_id < b_id) and exact dups have dist 0") {
    val docs = Seq((9L, "same text here"), (3L, "same text here"))
      .toDF("doc_id", "text")
    val out = Dedup.editDistanceNearDup(docs, "text", "doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((3L, 9L, 0L)))
  }

  test("empty text never joins; single docs emit nothing") {
    val docs = Seq((1L, ""), (2L, "lonely doc text")).toDF("doc_id", "text")
    assert(Dedup.editDistanceNearDup(docs, "text", "doc_id").count() === 0L)
  }

  // a Zipf-headed corpus: 120 docs share first token "the" (one hot block),
  // 6 docs spread over distinct first tokens
  lazy val zipfDocs = {
    val hot = (0L until 120L).map(i => (i, s"the quick brown fox num$i"))
    val tail = (200L until 206L).map(i => (i, s"tok$i something else entirely"))
    (hot ++ tail).toDF("doc_id", "text")
  }

  test("salted self-join emits the identical pair set as the unsalted one") {
    val unsalted = Dedup.editDistanceNearDup(zipfDocs, "text", "doc_id",
        saltFactor = 1)
      .as[(Long, Long, Long)].collect().toSet
    val salted = Dedup.editDistanceNearDup(zipfDocs, "text", "doc_id",
        saltFactor = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(unsalted.nonEmpty) // the hot block produces near-dup pairs
    assert(salted === unsalted)
  }

  test("salting bounds the per-task side of the hot block to ~n/S") {
    // replicate the operator's left-side keying: the candidate join key is
    // (w1, band, salt), so the largest probe-side group drops from the full
    // block (120) to its salt slice
    val keyed = zipfDocs.where(length($"text") > 0).select(
      $"doc_id",
      split_part($"text", lit(" "), lit(1)).as("w1"),
      floor(length(substring($"text", 1, 40)) / 8).as("band"),
      pmod(hash($"doc_id"), lit(8)).as("salt"))
    val maxGroup = keyed.groupBy("w1", "band", "salt").count()
      .agg(max("count")).as[Long].head()
    assert(maxGroup < 40L) // 120/8 = 15 expected; < 40 even under hash skew
  }

  test("blocks past maxBlock are boilerplate and dropped entirely") {
    val out = Dedup.editDistanceNearDup(zipfDocs, "text", "doc_id",
        maxBlock = 100)
      .as[(Long, Long, Long)].collect().toSet
    // the 120-doc "the" block exceeds the cap; the tail blocks are singletons
    assert(out.isEmpty)
  }
}

class ShingleNoveltySpec extends graft.SparkSpec {
  import spark.implicits._

  test("first introduction scores 1.0, verbatim repeat 0.0, partial overlap in between") {
    val docs = Seq(
      (1L, "a b c d"),  // shingles {a b c, b c d} — all first here
      (2L, "a b c d"),  // same shingles, all owned by doc 1
      (3L, "b c d e"),  // {b c d} seen, {c d e} new -> 0.5
      (4L, "x y"))      // < 3 tokens: absent
      .toDF("doc_id", "text")
    val out = Scoring.shingleNovelty(docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) === ((2L, 1.0)))
    assert(out(2L) === ((2L, 0.0)))
    assert(out(3L) === ((2L, 0.5)))
    assert(!out.contains(4L))
  }

  test("within-doc repeated shingles count once (distinct sets)") {
    val docs = Seq((1L, "a b a b a b")) // shingles {a b a, b a b} repeated
      .toDF("doc_id", "text")
    val out = Scoring.shingleNovelty(docs, "text", "doc_id")
      .as[(Long, Long, Double)].head()
    assert(out === ((1L, 2L, 1.0)))
  }
}

class WinsorizeSpec extends graft.SparkSpec {
  import spark.implicits._

  test("clamps at the exact interpolated per-group percentiles") {
    val df = (1 to 20).map(i => (i.toLong, "g", i.toLong)).toDF("id", "grp", "v")
    val out = Scoring.winsorize(df, "v", "grp")
      .select("id", "v_w").as[(Long, Double)].collect().toMap
    // quantile_cont of 1..20: p05 = 1.95, p95 = 19.05
    assert(out(1L) === 1.95)
    assert(out(20L) === 19.05)
    assert(out(10L) === 10.0) // interior values untouched
  }

  test("groups clamp independently") {
    val df = ((1 to 10).map(i => (i.toLong, "a", i.toLong)) ++
      (1 to 10).map(i => (i.toLong + 100, "b", i.toLong * 100)))
      .toDF("id", "grp", "v")
    val out = Scoring.winsorize(df, "v", "grp", lo = 0.0, hi = 0.5)
      .select("id", "v_w").as[(Long, Double)].collect().toMap
    assert(out(10L) === 5.5)    // group a median clamp
    assert(out(110L) === 550.0) // group b scales by 100
  }
}

class AsofToleranceSpec extends graft.SparkSpec {
  import spark.implicits._
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("tolerance nulls a stale match but keeps the boundary (diff == tol)") {
    val left = Seq(
      (1L, 7L, ts("2024-01-01 10:00:00")),  // click 30 min earlier: kept
      (2L, 7L, ts("2024-01-01 13:00:00")),  // latest click 3h old: stale
      (3L, 8L, ts("2024-01-01 11:30:00")))  // exactly 1h after: inclusive
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (7L, ts("2024-01-01 09:30:00"), 101L),
      (8L, ts("2024-01-01 10:30:00"), 102L))
      .toDF("user_id", "ts", "click_id")
    val out = AsofJoin.asofJoin(left, right, "user_id", "user_id", "ts", "ts",
        Seq("click_id"), toleranceSeconds = Some(3600L))
      .select("event_id", "asof_click_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(out(1L) === Some(101L))
    assert(out(2L) === None) // match exists but is outside the window
    assert(out(3L) === Some(102L)) // diff == tolerance is inside (<=)
  }

  test("no tolerance keeps the old unbounded semantics") {
    val left = Seq((1L, 7L, ts("2024-01-01 23:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq((7L, ts("2024-01-01 00:00:00"), 9L)).toDF("user_id", "ts", "click_id")
    val out = AsofJoin.asofJoin(left, right, "user_id", "user_id", "ts", "ts", Seq("click_id"))
      .select("asof_click_id").as[Long].head()
    assert(out === 9L)
  }
}

class RangeJoinSpec extends graft.SparkSpec {
  import spark.implicits._
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  lazy val points = Seq(
    (1L, ts("2024-01-01 10:30:00")),
    (2L, ts("2024-01-01 12:00:00")), // exactly at an interval end
    (3L, ts("2024-01-01 09:00:00")), // exactly at an interval start
    (4L, ts("2024-01-02 00:00:00"))) // in no interval
    .toDF("pid", "t")

  lazy val intervals = Seq(
    (100L, ts("2024-01-01 09:00:00"), ts("2024-01-01 12:00:00")), // spans 4 hour-buckets
    (200L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")))
    .toDF("iid", "s", "e")

  test("containment is inclusive both ends; multi-bucket intervals match once") {
    val out = RangeJoin.intervalJoin(points, "t", intervals, "s", "e",
        bucketWidthSeconds = 3600L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(out === Set(
      (1L, 100L), (1L, 200L), // 10:30 inside both
      (2L, 100L),             // end boundary inclusive
      (3L, 100L)))            // start boundary inclusive; pid 4 absent
  }

  test("bucket width does not change the result, only the plan") {
    val wide = RangeJoin.intervalJoin(points, "t", intervals, "s", "e", 86400L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val narrow = RangeJoin.intervalJoin(points, "t", intervals, "s", "e", 60L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(wide === narrow)
  }

  test("keyCols restrict matches to the same key") {
    val p = Seq((1L, "a", ts("2024-01-01 10:30:00")),
      (2L, "b", ts("2024-01-01 10:30:00"))).toDF("pid", "k", "t")
    val iv = Seq((100L, "a", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")))
      .toDF("iid", "k", "s", "e")
    val out = RangeJoin.intervalJoin(p, "t", iv, "s", "e", 3600L, keyCols = Seq("k"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 100L)))
  }
}

class MutualKnnSpec extends graft.SparkSpec {
  import spark.implicits._
  import Similarity.{Frame, Ivf, IvfMass, IvfStore, Pq, Sq8, topK}

  test("hub edges are one-directional and die; close pairs survive") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)),  // mutual nearest with 1
      (3L, Seq(0.0f, 1.0f)))  // its top-1 is 2, but 2's top-1 is 1
      .toDF("vec_id", "embedding")
    val out = Similarity.mutualKnn(vecs, "embedding", "vec_id", k = 1)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L)))
  }

  test("k covering everything yields the full undirected graph, self excluded") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.6f, 0.8f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.mutualKnn(vecs, "embedding", "vec_id", k = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  // a cluster around +x (ids 0..3) and one around +y (ids 4..7): centroids
  // 0 and 4 (mod 4 picks 0 and 4; ids 8+ absent), so probes = 2 covers both
  // cells and the confined graph must equal the exact one bit-for-bit
  lazy val twoClusters = Seq(
    (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.95f, 0.05f)),
    (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.85f, 0.15f)),
    (4L, Seq(0.0f, 1.0f)), (5L, Seq(0.05f, 0.95f)),
    (6L, Seq(0.1f, 0.9f)), (7L, Seq(0.15f, 0.85f)))
    .toDF("vec_id", "embedding")

  test("mutualKnnIvf with probes covering all cells equals the exact graph") {
    val exact = Similarity.mutualKnn(twoClusters, "embedding", "vec_id", k = 3)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect().toSet
    val conf = Similarity.mutualKnnIvf(twoClusters, "embedding", "vec_id",
        k = 3, centroidMod = 4, probes = 2)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(conf === exact)
  }

  test("mutualKnnIvf with probes = 1 confines edges within cells") {
    val conf = Similarity.mutualKnnIvf(twoClusters, "embedding", "vec_id",
        k = 3, centroidMod = 4, probes = 1)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // no cross-cluster edges: the x-cluster assigns to cell 0, the
    // y-cluster to cell 4, and scoring never crosses a cell boundary
    assert(conf.nonEmpty)
    assert(conf.forall { case (a, b) => (a < 4) == (b < 4) })
  }

  test("persisted IVF index round-trips bit-identically to the direct path") {
    val vecs = (0L until 60L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_spec")
    try {
      Similarity.buildIvfIndex(vecs, "embedding", "vec_id", dir.toString,
        centroidMod = 20)
      val direct = topK(q, Frame(vecs), "embedding", "vec_id",
          k = 5, Ivf(centroidMod = 20, probes = 2))
        .as[(Long, Long, Double, Int)].collect().toSet
      val stored = topK(q, IvfStore(dir.toString),
          "embedding", "vec_id", k = 5, Ivf(centroidMod = 20, probes = 2))
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(stored === direct)
      assert(direct.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("mass-adaptive probing over the persisted index equals the direct adaptive path") {
    val vecs = (0L until 60L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_ad_spec")
    try {
      Similarity.buildIvfIndex(vecs, "embedding", "vec_id", dir.toString,
        centroidMod = 20)
      // same centroid subset, same stored assignment, same mass rule —
      // the index path must be bit-identical to recomputing from vectors
      val direct = topK(q, Frame(vecs), "embedding", "vec_id",
          k = 5, IvfMass(centroidMod = 20, massFrac = 0.4))
        .as[(Long, Long, Double, Int)].collect().toSet
      val stored = topK(q, IvfStore(dir.toString),
          "embedding", "vec_id", k = 5, IvfMass(centroidMod = 20, massFrac = 0.4))
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(stored === direct)
      assert(direct.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("index default route is mass-adaptive; fixed-probe is opt-in via probes > 0") {
    // the r13 finding: a fixed probe count is the decay class q184/q198
    // demonstrated, yet it was the roundtrip default. Since r14 the
    // no-probes call must take the massFrac rule; passing probes engages
    // the fixed path (whose ranking differs here by construction: 1 probe
    // of 3 cells scans less than 40% mass)
    val vecs = (0L until 60L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_default_spec")
    try {
      Similarity.buildIvfIndex(vecs, "embedding", "vec_id", dir.toString,
        centroidMod = 20)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double, Int)].collect().toSet
      val default = rows(topK(q, IvfStore(dir.toString),
        "embedding", "vec_id", k = 5, IvfMass(centroidMod = 20)))
      val adaptive = rows(topK(q, IvfStore(dir.toString),
        "embedding", "vec_id", k = 5, IvfMass(centroidMod = 20, massFrac = 0.25)))
      assert(default === adaptive)
      val fixed = rows(topK(q, IvfStore(dir.toString),
        "embedding", "vec_id", k = 5, Ivf(centroidMod = 20, probes = 3)))
      // probes = 3 covers ALL cells here — it must equal the exact ranking,
      // proving the fixed path still runs when opted into
      val exact = rows(topK(q, Frame(vecs), "embedding", "vec_id", 5))
      assert(fixed === exact)
      assert(default.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("appendIvfIndex == build-with-delta under the same frozen centroids") {
    // the rolling-ingest contract: appending a delta must leave the store
    // bit-identical to an index whose BUILD had seen the delta with the
    // same centroid set. h2 deliberately contains mod-aligned ids (40),
    // which must NOT become centroids — the _centroids sidecar freezes the
    // geometry (deriving centroids from vec_id % mod after an append would
    // invent a phantom cell no row was assigned to).
    val all = (0L until 60L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val h1 = all.filter($"vec_id" % 3 =!= 0)
    val h2 = all.filter($"vec_id" % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_append")
    try {
      Similarity.buildIvfIndex(h1, "embedding", "vec_id", dir.toString,
        centroidMod = 20)
      Similarity.appendIvfIndex(spark, dir.toString, h2, "embedding", "vec_id")
      val stored = spark.read.parquet(dir.toString)
        .select("vec_id", "cent_id").as[(Long, Long)].collect().toSet
      // every corpus row present exactly once, assigned to an h1 centroid
      assert(stored.map(_._1) === (0L until 60L).toSet)
      assert(stored.size === 60)
      val frozen = spark.read.parquet(s"$dir/_centroids")
        .select("cent_id").as[Long].collect().toSet
      assert(stored.map(_._2).subsetOf(frozen))
      assert(!frozen.exists(_ % 3 == 0), "appended ids leaked into centroids")
      // querying the appended store == querying a store built in one shot
      // over the full corpus WITH THE SAME frozen centroids: rebuild into a
      // second dir from h1 (same centroids) and append h2 there too after
      // fresh build — instead compare against the direct adaptive path
      // restricted to the same geometry via the store itself
      val q = all.filter($"vec_id" < 4)
      val viaStore = topK(q, IvfStore(dir.toString),
          "embedding", "vec_id", k = 5, IvfMass(centroidMod = 20))
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(viaStore.nonEmpty)
      // full-coverage probes == exact ranking over the whole corpus: with
      // every cell probed nothing is pruned, so the appended store must
      // recover the true top-k incl. h2 rows
      val frozenN = frozen.size
      val viaAllCells = topK(q, IvfStore(dir.toString),
          "embedding", "vec_id", k = 5, Ivf(centroidMod = 20, probes = frozenN))
        .as[(Long, Long, Double, Int)].collect().toSet
      val exact = topK(q, Frame(all), "embedding", "vec_id", 5)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(viaAllCells === exact)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("an append runs a pinned number of Spark jobs (q241's shape)") {
    // the delta-size read-back takes the store's schema from the open, so
    // it starts no inference job (one fewer per append than before). The
    // open still infers once per append, because the append changed the
    // store's listing; the first append also infers `_centroids`.
    val e = graft.Tables(spark, sf0001).embeddings
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_jobs")
    try {
      Similarity.buildIvfIndex(e.filter($"vec_id" % 3 =!= 0), "embedding", "vec_id",
        dir.toString, centroidMod = 100)
      val jobs = (0 until 2).map { i =>
        graft.QueryTrace.run(spark)(Similarity.appendIvfIndex(spark, dir.toString,
          e.filter($"vec_id" % 3 === i), "embedding", "vec_id"))._2.totals.jobs
      }
      assert(jobs === Seq(9L, 8L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("cellsizes sidecar: build + append keep it equal to a recount; legacy stores recount") {
    val all = (0L until 90L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val h1 = all.filter($"vec_id" % 3 =!= 0)
    val h2 = all.filter($"vec_id" % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_sizes")
    def recount(): Map[Long, Long] = spark.read.parquet(dir.toString)
      .groupBy("cent_id").count().as[(Long, Long)].collect().toMap
    def sidecar(): Map[Long, Long] =
      Similarity.storedCellSizesForTest(spark, dir.toString).get._2
    try {
      Similarity.buildIvfIndex(h1, "embedding", "vec_id", dir.toString,
        centroidMod = 20)
      assert(sidecar() === recount())
      Similarity.appendIvfIndex(spark, dir.toString, h2, "embedding", "vec_id")
      assert(sidecar() === recount()) // delta rows fold in exactly
      // the query path reads the SIDECAR sizes — same ranking as a store
      // whose sizes were recounted (drop both size artifacts: legacy path)
      val q = all.filter($"vec_id" < 3)
      val viaSidecar = topK(q, IvfStore(dir.toString), "embedding", "vec_id",
        k = 5, IvfMass(centroidMod = 20)).as[(Long, Long, Double, Int)].collect().toSet
      assert(new java.io.File(s"$dir/_cellsizes.csv").delete())
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$dir/_cellsizes_deltas"))
      val viaRecount = topK(q, IvfStore(dir.toString), "embedding", "vec_id",
        k = 5, IvfMass(centroidMod = 20)).as[(Long, Long, Double, Int)].collect().toSet
      assert(viaSidecar === viaRecount)
      assert(viaSidecar.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("appendIvfIndex crash windows heal by rollback: the store reads as if the append never started") {
    val vecs = (0L until 60L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val h1 = vecs.filter($"vec_id" % 3 =!= 0)
    val h2 = vecs.filter($"vec_id" % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_crash")
    def snapshot(): Set[(Long, Long)] = spark.read.parquet(dir.toString)
      .select("vec_id", "cent_id").as[(Long, Long)].collect().toSet
    try {
      Similarity.buildIvfIndex(h1, "embedding", "vec_id", dir.toString,
        centroidMod = 20)
      val before = snapshot()
      val cell = before.head._2
      // window 1: crash DURING staging (no manifest) — heal drops the stage
      val stage1 = new java.io.File(s"$dir/.__append_tmp_crash1")
      assert(stage1.mkdirs())
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(stage1.toString, "partial"), "x")
      Similarity.healAppendsForTest(spark, dir.toString)
      assert(!stage1.exists())
      assert(snapshot() === before)
      // window 2: crash AFTER the manifest with a subset of files moved —
      // heal deletes exactly the listed dest files + the sizes delta
      val stage2 = new java.io.File(s"$dir/.__append_tmp_crash2")
      assert(stage2.mkdirs())
      val movedName = "part-crash-injected.parquet"
      val destFile = new java.io.File(s"$dir/cent_id=$cell/$movedName")
      java.nio.file.Files.writeString(destFile.toPath, "not-parquet")
      val deltaFile = new java.io.File(s"$dir/_cellsizes_deltas/crash2.csv")
      assert(deltaFile.getParentFile.isDirectory || deltaFile.getParentFile.mkdirs())
      java.nio.file.Files.writeString(deltaFile.toPath, "20\n0,1")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(stage2.toString, "_GRAFT_MANIFEST"),
        s"_cellsizes_deltas/crash2.csv\ncent_id=$cell/$movedName")
      Similarity.healAppendsForTest(spark, dir.toString)
      assert(!stage2.exists() && !destFile.exists() && !deltaFile.exists())
      assert(snapshot() === before)
      // and the retry lands the full delta exactly once
      Similarity.appendIvfIndex(spark, dir.toString, h2, "embedding", "vec_id")
      assert(snapshot().map(_._1) === (0L until 60L).toSet)
      assert(snapshot().size === 60)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("appendIvfIndex validates the delta's vector type and dimension against the store") {
    val vecs = (0L until 40L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_dim")
    try {
      Similarity.buildIvfIndex(vecs, "embedding", "vec_id", dir.toString,
        centroidMod = 20)
      val wrongDim = Seq((100L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
      val e1 = intercept[IllegalArgumentException] {
        Similarity.appendIvfIndex(spark, dir.toString, wrongDim,
          "embedding", "vec_id")
      }
      assert(e1.getMessage.contains("dim"))
      val wrongType = Seq((100L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding")
      val e2 = intercept[IllegalArgumentException] {
        Similarity.appendIvfIndex(spark, dir.toString, wrongType,
          "embedding", "vec_id")
      }
      assert(e2.getMessage.toLowerCase.contains("store holds"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("appendIvfIndex refuses a legacy store without the centroid sidecar") {
    val vecs = (0L until 40L).map { i =>
      (i, Seq((i % 7).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_legacy")
    try {
      Similarity.buildIvfIndex(vecs, "embedding", "vec_id", dir.toString,
        centroidMod = 20)
      // simulate a pre-r14 store: drop the sidecar
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$dir/_centroids"))
      // reads still work (legacy mod-derivation path)
      val q = vecs.filter($"vec_id" < 2)
      assert(topK(q, IvfStore(dir.toString),
        "embedding", "vec_id", k = 3, IvfMass(centroidMod = 20)).count() > 0)
      val e = intercept[IllegalArgumentException] {
        Similarity.appendIvfIndex(spark, dir.toString,
          vecs.limit(1), "embedding", "vec_id")
      }
      assert(e.getMessage.contains("_centroids"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("appendIvfIndex is single-writer: a fresh lease refuses, a stale one is taken over") {
    val vecs = (0L until 60L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val h1 = vecs.filter($"vec_id" % 3 =!= 0)
    val h2 = vecs.filter($"vec_id" % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_lease")
    // the lease is a SIBLING of the store root (r17): a rebuild's dir swap
    // must not carry it away, and acquiring it must not recreate an
    // absent root
    val lease = new java.io.File(s"$dir.__lease")
    try {
      Similarity.buildIvfIndex(h1, "embedding", "vec_id", dir.toString,
        centroidMod = 20)
      // a concurrent appender's FRESH lease refuses loudly — the old heal-
      // on-entry would have rolled back its live stage (VERDICT r15 #4)
      java.nio.file.Files.writeString(lease.toPath, "holder")
      val e = intercept[IllegalArgumentException] {
        Similarity.appendIvfIndex(spark, dir.toString, h2, "embedding", "vec_id")
      }
      assert(e.getMessage.contains("lease"))
      assert(lease.exists(), "refusal must not steal the live lease")
      assert(java.nio.file.Files.readString(lease.toPath) === "holder",
        "refusal must not rewrite the live holder's token")
      // a STALE lease (crashed appender) is taken over and the append runs
      assert(lease.setLastModified(
        System.currentTimeMillis() - 20L * 60 * 1000))
      Similarity.appendIvfIndex(spark, dir.toString, h2, "embedding", "vec_id")
      assert(!lease.exists(), "lease must be released on success")
      assert(spark.read.parquet(dir.toString).count() === 60L)
      // and a FAILED append releases the lease too (wrong dim refuses
      // after acquisition)
      val bad = Seq((100L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
      intercept[IllegalArgumentException] {
        Similarity.appendIvfIndex(spark, dir.toString, bad, "embedding", "vec_id")
      }
      assert(!lease.exists(), "lease must be released on failure")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      lease.delete()
    }
  }

  test("a slow-but-live writer heartbeats past the TTL and a takeover attempt refuses") {
    val vecs = (0L until 40L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_hb")
    val lease = new java.io.File(s"$dir.__lease")
    withConf("graft.ivf.appendLeaseTtlMs" -> "400") {
      try {
        Similarity.buildIvfIndex(vecs, "embedding", "vec_id", dir.toString,
          centroidMod = 20)
        // writer A holds the lease LONGER than the TTL but heartbeats
        // between phases — a second writer's acquire must still refuse,
        // because the mtime (not the acquisition time) carries liveness
        Similarity.withWriterLeaseForTest(spark, dir.toString, "writerA") { hb =>
          Thread.sleep(250); hb()
          Thread.sleep(250); hb() // total hold 500ms > ttl 400ms, still live
          val e = intercept[IllegalArgumentException] {
            Similarity.withWriterLeaseForTest(spark, dir.toString, "writerB") {
              _ => fail("writerB must not acquire over a live heartbeat")
            }
          }
          assert(e.getMessage.contains("another writer holds the lease"))
        }
        assert(!lease.exists(), "lease released after the slow write")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
        lease.delete()
      }
    }
  }

  test("a mid-write takeover is detected by the owner token and fails the write loudly") {
    val vecs = (0L until 40L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_tok")
    val lease = new java.io.File(s"$dir.__lease")
    withConf("graft.ivf.appendLeaseTtlMs" -> "100") {
      try {
        Similarity.buildIvfIndex(vecs, "embedding", "vec_id", dir.toString,
          centroidMod = 20)
        val e = intercept[java.io.IOException] {
          Similarity.withWriterLeaseForTest(spark, dir.toString, "writerA") { hb =>
            Thread.sleep(200) // NO heartbeat: the lease goes stale
            // writer B legitimately takes the stale lease over and finishes
            Similarity.withWriterLeaseForTest(spark, dir.toString, "writerB") {
              _ => ()
            }
            // A's next heartbeat detects the loss and aborts BEFORE more I/O
            val hbErr = intercept[IllegalArgumentException](hb())
            assert(hbErr.getMessage.contains("lost the writer lease"))
            // ...and even a body that swallows that still cannot report
            // success: the exit-path token check fails the write (below)
          }
        }
        assert(e.getMessage.contains("taken over mid-write"))
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
        lease.delete()
      }
    }
  }

  test("the heartbeat's rewrite fallback detects an interleaved takeover instead of clobbering it") {
    // VERDICT r17 #1: when fs.setTimes is unsupported, the mtime refresh
    // rewrites the lease — the one heartbeat path that WRITES. A takeover
    // interleaving around that write must fail the heartbeat loudly, not
    // be silently overwritten with the old holder's token.
    val dir = java.nio.file.Files.createTempDirectory("lease_fb")
    val leaseP = new org.apache.hadoop.fs.Path(s"$dir/store.__lease")
    val fs = leaseP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(tok: String): Unit = {
      val out = fs.create(leaseP, true)
      out.write(tok.getBytes("UTF-8")); out.close()
    }
    def get(): String = Similarity.readLeaseToken(fs, leaseP).getOrElse("")
    try {
      // foreign token already present BEFORE the rewrite: refuse loudly
      // and leave the taker's token untouched
      put("theirs")
      val e1 = intercept[java.io.IOException] {
        Similarity.refreshLeaseMtime(fs, leaseP, "ours", "hb", dir.toString,
          forceFallbackForTest = true)
      }
      assert(e1.getMessage.contains("interleaved before"))
      assert(get() === "theirs", "the taker's token must survive the refusal")
      // foreign token landing right AFTER the overwrite (the clobber
      // window the r17 verdict flagged): the post-write re-read detects it
      put("ours")
      val e2 = intercept[java.io.IOException] {
        Similarity.refreshLeaseMtime(fs, leaseP, "ours", "hb", dir.toString,
          forceFallbackForTest = true, interleaveForTest = () => put("theirs"))
      }
      assert(e2.getMessage.contains("interleaved after"))
      // undisturbed fallback: token kept, mtime advanced
      put("ours")
      val lf = new java.io.File(leaseP.toUri.getPath)
      assert(lf.setLastModified(System.currentTimeMillis() - 60000))
      val before = lf.lastModified()
      Similarity.refreshLeaseMtime(fs, leaseP, "ours", "hb", dir.toString,
        forceFallbackForTest = true)
      assert(get() === "ours")
      assert(lf.lastModified() > before, "the fallback must refresh mtime")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a zero-byte lease read is retried as the acquire window, not treated as a mismatch") {
    // ADVICE r17: acquisition writes the token AFTER create-exclusive
    // returns, so a concurrent read can observe the lease empty for a
    // moment — that read must wait out the window instead of spuriously
    // failing the healthy holder's stillOurs.
    val dir = java.nio.file.Files.createTempDirectory("lease_zb")
    val leaseP = new org.apache.hadoop.fs.Path(s"$dir/store.__lease")
    val fs = leaseP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      fs.create(leaseP, true).close() // zero-byte: mid-acquire snapshot
      val writer = new Thread(() => {
        Thread.sleep(50)
        val out = fs.create(leaseP, true)
        out.write("tok".getBytes("UTF-8")); out.close()
      })
      writer.start()
      assert(Similarity.readLeaseToken(fs, leaseP).contains("tok"),
        "an empty read inside the retry budget must resolve to the token")
      writer.join()
      // an empty lease that STAYS empty (crashed between create and
      // token-write) is returned as-is after the retries — it matches no
      // token and ages out via the TTL like any crashed acquisition
      fs.create(leaseP, true).close()
      assert(Similarity.readLeaseToken(fs, leaseP).contains(""))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("rebuildIvfIndex's pulse keeps the lease fresh through a staged build longer than the TTL") {
    // ADVICE r17: the staged build is one full-corpus phase, so without a
    // pulse the TTL would have to exceed the whole rebuild — a concurrent
    // appender would legitimately take over mid-build and kill the
    // rebuild at swap time. With the TTL far below the build duration and
    // a contender hammering acquisition, the rebuild must still complete
    // (pulse keeps the lease fresh) and every contender attempt must be
    // refused as against a LIVE writer.
    val vecs = (0L until 60L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_pulse")
    val store = s"$dir/store"
    val lease = new java.io.File(s"$store.__lease")
    withConf("graft.ivf.appendLeaseTtlMs" -> "1000") {
      try {
        Similarity.buildIvfIndex(vecs, "embedding", "vec_id", store,
          centroidMod = 20)
        // TTL 1s (pulse every 250ms): far below the multi-second staged
        // build so the scenario is real, but wide enough that an ordinary
        // GC/FS stall between pulses cannot let the contender s takeover
        // race flake the test on a contended box
        val rebuildErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val t = new Thread(() =>
          try Similarity.rebuildIvfIndex(spark, store)
          catch { case e: Throwable => rebuildErr.set(e) })
        t.start()
        var refusals = 0
        while (t.isAlive) {
          if (lease.exists()) {
            try {
              Similarity.withWriterLeaseForTest(spark, store, "contender") {
                _ => ()
              }
              // acquisition only legitimately succeeds once the rebuild has
              // released (raced its final delete) — never while a stale
              // takeover would have been possible
            } catch {
              case e: IllegalArgumentException
                  if e.getMessage.contains("another writer holds") =>
                refusals += 1
              case e: java.io.IOException
                  if e.getMessage.contains("mid-rename") => refusals += 1
            }
          }
          Thread.sleep(60)
        }
        t.join()
        assert(rebuildErr.get() == null,
          s"rebuild must survive a sub-build TTL via the pulse: ${rebuildErr.get()}")
        assert(refusals >= 1,
          "the contender must have been refused at least once mid-rebuild")
        assert(spark.read.parquet(store).count() === 60L)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
        lease.delete()
      }
    }
  }

  test("IVF writers refuse an absent store and diagnose a crashed rebuild instead of recreating the root") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_abs")
    val store = s"$dir/store"
    val delta = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    try {
      // no store at all: a loud FileNotFound, and the root must NOT be
      // recreated as a lease-only dir (ADVICE r16: Hadoop create() makes
      // parent dirs, so the old in-store lease invented the store)
      val e1 = intercept[java.io.FileNotFoundException] {
        Similarity.appendIvfIndex(spark, store, delta, "embedding", "vec_id")
      }
      assert(e1.getMessage.contains("no IVF store"))
      assert(!new java.io.File(store).exists(),
        "a refused writer must not recreate the store root")
      // the between-renames rebuild crash window: store absent but a
      // sibling survives — the writer repeats openIvfIndex's recovery
      // guidance instead of failing on schema inference
      new java.io.File(s"$store.__rebuild_tmp").mkdirs()
      val e2 = intercept[java.io.IOException] {
        Similarity.rebuildIvfIndex(spark, store)
      }
      assert(e2.getMessage.contains("rename either sibling back"))
      assert(!new java.io.File(store).exists())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a live rebuild's swap window is diagnosed as in-flight, not as a crash") {
    // the between-renames window with a FRESH lease is a rebuild in
    // flight: both writers and readers must get retry guidance — the
    // crashed-rebuild instruction ("rename a sibling back") would corrupt
    // the live swap if followed
    val vecs = (0L until 40L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_swap")
    val store = s"$dir/store"
    val aside = java.nio.file.Paths.get(s"$store.__rebuild_old")
    val delta = Seq((100L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    try {
      Similarity.buildIvfIndex(vecs, "embedding", "vec_id", store,
        centroidMod = 20)
      Similarity.withWriterLeaseForTest(spark, store, "rebuilder") { _ =>
        java.nio.file.Files.move(java.nio.file.Paths.get(store), aside)
        try {
          // concurrent WRITER: refused before lease acquisition, with the
          // in-flight guidance (not the crash recovery, not a bare FNF)
          val w = intercept[java.io.IOException] {
            Similarity.appendIvfIndex(spark, store, delta, "embedding", "vec_id")
          }
          assert(w.getMessage.contains("swap in") &&
            w.getMessage.contains("do NOT rename"))
          // concurrent READER: same diagnosis through openIvfIndex
          val r = intercept[java.io.IOException] {
            Similarity.ivfRecallCheck(spark, store,
              delta.limit(1), "embedding", "vec_id")
          }
          assert(r.getMessage.contains("swap in"))
        } finally java.nio.file.Files.move(aside,
          java.nio.file.Paths.get(store))
        ()
      }
      // once no live lease remains, the same absent-root state reads as
      // the documented crash and gets the recovery instruction
      java.nio.file.Files.move(java.nio.file.Paths.get(store), aside)
      val c = intercept[java.io.IOException] {
        Similarity.appendIvfIndex(spark, store, delta, "embedding", "vec_id")
      }
      assert(c.getMessage.contains("rename either sibling back"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("IVF writers refuse filesystem schemes without atomic create-exclusive and rename") {
    val delta = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    // the guard fires BEFORE any filesystem access (no s3a classes needed)
    for (call <- Seq(
        () => Similarity.buildIvfIndex(delta, "embedding", "vec_id",
          "s3a://bucket/ivf"),
        () => Similarity.appendIvfIndex(spark, "s3a://bucket/ivf", delta,
          "embedding", "vec_id"),
        () => Similarity.rebuildIvfIndex(spark, "s3a://bucket/ivf"))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("ATOMIC create-exclusive"))
      assert(e.getMessage.contains("graft.fs.atomicSchemes"))
    }
    // the opt-in lifts the refusal: the failure becomes the (expected)
    // missing-filesystem error, not the contract guard
    withConf("graft.fs.atomicSchemes" -> "s3a") {
      val e = intercept[Throwable] {
        Similarity.appendIvfIndex(spark, "s3a://bucket/ivf", delta,
          "embedding", "vec_id")
      }
      assert(!e.getMessage.contains("ATOMIC create-exclusive"))
    }
    // a SCHEME-LESS path resolves against fs.defaultFS, not the local
    // filesystem (ADVICE r17): on a cluster whose defaultFS is an object
    // store, '/data/ivf' must hit the same refusal, not bypass it
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevDefault = hconf.get("fs.defaultFS")
    hconf.set("fs.defaultFS", "s3a://bucket/")
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.appendIvfIndex(spark, "/data/ivf", delta,
          "embedding", "vec_id")
      }
      assert(e.getMessage.contains("ATOMIC create-exclusive"))
      assert(e.getMessage.contains("'s3a'"))
    } finally {
      if (prevDefault == null) hconf.unset("fs.defaultFS")
      else hconf.set("fs.defaultFS", prevDefault)
    }
  }

  test("readers exclude files named by an in-flight append manifest (and its sizes delta)") {
    val vecs = (0L until 60L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val h1 = vecs.filter($"vec_id" % 3 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_excl")
    try {
      Similarity.buildIvfIndex(h1, "embedding", "vec_id", dir.toString,
        centroidMod = 20)
      val q = vecs.filter($"vec_id" < 3)
      def topk() = topK(q, IvfStore(dir.toString), "embedding", "vec_id",
        k = 5, IvfMass(centroidMod = 20)).as[(Long, Long, Double, Int)].collect().toSet
      val before = topk()
      val sizesBefore = Similarity.storedCellSizesForTest(spark, dir.toString).get
      // simulate an append crashed MID-MOVE: duplicate a real data file
      // into another cell dir (physically visible rows) + a sizes delta,
      // both listed in a live stage's manifest
      val cells = new java.io.File(dir.toString).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cent_id=")).sortBy(_.getName)
      val srcFile = cells.head.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
      val destCell = cells.last.getName
      val injected = new java.io.File(s"$dir/$destCell/crash-partial.parquet")
      java.nio.file.Files.copy(srcFile.toPath, injected.toPath)
      val deltaFile = new java.io.File(s"$dir/_cellsizes_deltas/crashx.csv")
      assert(deltaFile.getParentFile.isDirectory || deltaFile.getParentFile.mkdirs())
      java.nio.file.Files.writeString(deltaFile.toPath, "20\n0,7")
      val stage = new java.io.File(s"$dir/.__append_tmp_crashx")
      assert(stage.mkdirs())
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(stage.toString, "_GRAFT_MANIFEST"),
        s"_cellsizes_deltas/crashx.csv\n$destCell/crash-partial.parquet")
      // the injected file IS physically there (a raw read sees extra rows)…
      assert(spark.read.parquet(dir.toString).count() >
        before.map(_._2).size.toLong.min(40L)) // store has 40 rows; raw read > 40
      // …but the query path and the sidecar sizes EXCLUDE it (not delete:
      // a reader must never race a live appender's move loop)
      assert(topk() === before)
      assert(Similarity.storedCellSizesForTest(spark, dir.toString).get
        === sizesBefore)
      assert(injected.exists(), "readers must not heal/delete in-flight files")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("buildIvfIndex sizes the sidecar at footer level: its store read-back carries no data columns") {
    // The r15 review proposed sizing from a persisted assignment instead
    // of re-reading the written store; the A/B measured that 70% SLOWER
    // (the cache materializes every row incl. vectors a second time) and
    // at 100 TB it would double the storage footprint mid-build. The
    // read-back is kept because it is a METADATA pass, not a data pass —
    // pin that structurally: every store scan the build executes must
    // have an empty ReadSchema (partition-column-only grouping, counted
    // from footer row-groups).
    val vecs = (0L until 60L).map { i =>
      (i, Seq((i % 7).toFloat, (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_once")
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (plan.contains(dir.toString) && plan.contains("FileScan"))
          scans.add(plan): Unit
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      Similarity.buildIvfIndex(vecs, "embedding", "vec_id", dir.toString,
        centroidMod = 20)
      // QueryExecutionListener delivery is async; give the bus a moment
      var settle = 40
      while (settle > 0) { Thread.sleep(50); settle -= 1 }
      val plans = scans.toArray(Array.empty[String])
      assert(plans.nonEmpty, "expected the footer-level sizes read-back")
      plans.foreach { p =>
        assert(p.contains("ReadSchema: struct<>"),
          s"build's store read-back reads DATA columns:\n${p.take(600)}")
      }
      // and the sidecar equals a recount
      val recount = spark.read.parquet(dir.toString)
        .groupBy("cent_id").count().as[(Long, Long)].collect().toMap
      assert(Similarity.storedCellSizesForTest(spark, dir.toString).get._2
        === recount)
    } finally {
      spark.listenerManager.unregister(ql)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("drift lifecycle: recall check flags drifted appends; rebuild restores") {
    // 8 tight base clusters in the x-y plane (one frozen centroid each, so
    // healthy recall is exact); the append then lands a cluster at 45° —
    // BETWEEN the 40° and 50° frozen centroids — so its vectors split
    // across two cells and a 10%-mass probe sees only half its neighbors.
    // The rebuild re-derives centroids from every id now present, a
    // centroid lands inside the drifted cluster, recall restores.
    def unit(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f)
    }
    val base = (0L until 200L).map { i =>
      (i, unit((i / 25) * 10.0 + (i % 25 - 12) * 0.02))
    }.toDF("vec_id", "embedding")
    val drifted = (0L until 50L).map { i =>
      (1000L + i, unit(45.0 + (if (i % 2 == 0) 1 else -1) * (2.0 + i % 3)))
    }.toDF("vec_id", "embedding")
    val baseQ = (0 until 8).map(j => (j.toLong, unit(j * 10.0)))
      .toDF("vec_id", "embedding")
    val driftQ = Seq((0L, unit(45.0)), (1L, unit(44.8)), (2L, unit(45.2)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_drift")
    try {
      Similarity.buildIvfIndex(base, "embedding", "vec_id", dir.toString,
        centroidMod = 25)
      val r0 = Similarity.ivfRecallCheck(spark, dir.toString, baseQ,
        "embedding", "vec_id", k = 10, massFrac = 0.1)
      assert(r0 >= 0.9, s"healthy recall $r0")
      Similarity.appendIvfIndex(spark, dir.toString, drifted,
        "embedding", "vec_id")
      val (r1, rebuilt) = Similarity.rebuildIfDrifted(spark, dir.toString,
        driftQ, "embedding", "vec_id", minRecall = 0.8, k = 10, massFrac = 0.1)
      assert(r1 <= 0.7, s"drifted recall should degrade, measured $r1")
      assert(rebuilt)
      // rebuild re-derived the centroid set: a drifted id is now a centroid
      val cents = spark.read.parquet(s"$dir/_centroids")
        .select("cent_id").as[Long].collect().toSet
      assert(cents.exists(_ >= 1000L), "no centroid inside the drifted cluster")
      val r2 = Similarity.ivfRecallCheck(spark, dir.toString, driftQ,
        "embedding", "vec_id", k = 10, massFrac = 0.1)
      assert(r2 >= 0.9, s"post-rebuild recall $r2")
      // the store's rows survived the swap intact
      assert(spark.read.parquet(dir.toString).count() === 250L)
      // healthy stores are left alone
      val (r3, again) = Similarity.rebuildIfDrifted(spark, dir.toString,
        driftQ, "embedding", "vec_id", minRecall = 0.8, k = 10, massFrac = 0.1)
      assert(r3 >= 0.9 && !again)
      // the rebuild's between-renames crash window fails LOUD with the
      // recovery instruction, not a bare path-not-found
      val moved = new java.io.File(s"$dir.__rebuild_old")
      assert(new java.io.File(dir.toString).renameTo(moved))
      try {
        val e = intercept[java.io.IOException] {
          Similarity.ivfRecallCheck(spark, dir.toString, driftQ,
            "embedding", "vec_id", k = 10, massFrac = 0.1)
        }
        assert(e.getMessage.contains("rename either sibling back")
          || e.getMessage.contains("rebuild sibling"))
      } finally assert(moved.renameTo(new java.io.File(dir.toString)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("adaptive forms return empty on an EMPTY query set instead of throwing") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val none = e.filter($"vec_id" < 0)
    assert(topK(none, Frame(e), "embedding", "vec_id",
      k = 5, IvfMass(centroidMod = 100, massFrac = 0.25)).count() === 0L)
    assert(topK(none, Frame(e), "embedding", "vec_id",
      k = 5, IvfMass(centroidMod = 100, massFrac = 0.25), Sq8).count() === 0L)
  }

  test("a parquet dir without the scheme column is rejected as an index") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_bad")
    try {
      twoClusters.write.mode("overwrite").parquet(dir.toString)
      val e = intercept[IllegalArgumentException] {
        topK(twoClusters, IvfStore(dir.toString),
          "embedding", "vec_id", k = 2, IvfMass())
      }
      assert(e.getMessage.contains("not a graft IVF index"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("ivfPqTopK with probes covering all cells equals plain pqTopK") {
    val rnd = new scala.util.Random(188)
    val vecs = (0L until 60L).map { i =>
      (i, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 4)
    // centroidMod = 20 makes 3 cells (ids 0, 20, 40); probes = 3 prunes
    // nothing, so the composite must be bit-identical to plain PQ
    val pq = topK(q, Frame(vecs), "embedding", "vec_id", k = 5, code = Pq())
      .as[(Long, Long, Double, Int)].collect().toSet
    val comp = topK(q, Frame(vecs), "embedding", "vec_id", k = 5,
        Ivf(centroidMod = 20, probes = 3), Pq())
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(comp === pq)
    assert(pq.nonEmpty)
  }

  test("over-budget query side takes the shuffle route, same result") {
    def run() = QueryTrace.run(spark)(Similarity.mutualKnn(twoClusters,
      "embedding", "vec_id", k = 3)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect().toSet)
    val (shuffled, viaShuffle) =
      withConf(graft.Small.Key -> "1")(run())
    assert(viaShuffle("sim.route") === "shuffle")
    val (bcast, viaBroadcast) =
      withConf(graft.Small.Key -> Long.MaxValue.toString)(run())
    assert(viaBroadcast("sim.route") === "broadcast")
    assert(shuffled === bcast)
  }
}

class TokenEntropySpec extends graft.SparkSpec {
  import spark.implicits._

  test("uniform distribution hits ln(V); single-token docs score 0") {
    val docs = Seq(
      (1L, "a b c d"),      // uniform over 4: H = ln 4
      (2L, "x x x x"),      // degenerate: H = 0
      (3L, "a a b b"))      // uniform over 2: H = ln 2
      .toDF("doc_id", "text")
    val out = Scoring.tokenEntropy(docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L)._1 === 4L)
    assert(math.abs(out(1L)._2 - math.log(4)) < 1e-3)
    assert(out(2L) === ((4L, 0.0)))
    assert(math.abs(out(3L)._2 - math.log(2)) < 1e-3)
  }

  test("skewed mass scores below uniform at equal vocabulary") {
    val docs = Seq(
      (1L, "a b a b a b a b"),          // 50/50
      (2L, "a a a a a a a b"))          // 7/1
      .toDF("doc_id", "text")
    val out = Scoring.tokenEntropy(docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    assert(out(2L) < out(1L))
  }
}

class SourceTokenCosineSpec extends graft.SparkSpec {
  import spark.implicits._

  test("mirror sources score 1.0; disjoint-vocabulary pairs are absent") {
    val docs = Seq(
      (1L, "a", "x y z"), (2L, "a", "x y"),
      (3L, "b", "x y z"), (4L, "b", "x y"),   // b mirrors a exactly
      (5L, "c", "p q r"))                     // c shares nothing
      .toDF("doc_id", "src", "text")
    val out = Scoring.sourceTokenCosine(docs, "text", "src")
      .as[(String, String, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(out(("a", "b")) === 1.0)
    assert(!out.contains(("a", "c")) && !out.contains(("b", "c")))
  }

  test("scaling all counts leaves cosine at 1.0; partial overlap lands strictly between") {
    val docs = Seq(
      (1L, "a", "x y"), (2L, "b", "x y x y x y"), // b = 3x a's counts
      (3L, "c", "x q"))
      .toDF("doc_id", "src", "text")
    val out = Scoring.sourceTokenCosine(docs, "text", "src")
      .as[(String, String, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(out(("a", "b")) === 1.0)
    assert(out(("a", "c")) > 0.0 && out(("a", "c")) < 1.0)
  }
}

class WeightedSampleSpec extends graft.SparkSpec {
  import spark.implicits._

  lazy val docs = ((1L to 50L).map(i => (i, "g", 1L)) :+ ((99L, "g", 1000000000000L)))
    .toDF("doc_id", "src", "w")

  test("an overwhelming weight is always selected; k caps the group") {
    val out = Sampling.weightedSample(docs, "src", "doc_id",
        org.apache.spark.sql.functions.col("w"), k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(out.size === 5)
    assert(out.contains(99L))
  }

  test("deterministic under repartitioning and input order") {
    val a = Sampling.weightedSample(docs, "src", "doc_id",
        org.apache.spark.sql.functions.col("w"), k = 7)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.weightedSample(docs.repartition(13).sort(org.apache.spark.sql.functions.col("doc_id").desc),
        "src", "doc_id", org.apache.spark.sql.functions.col("w"), k = 7)
      .select("doc_id").as[Long].collect().toSet
    assert(a === b)
  }

  test("k >= group size keeps everything") {
    val out = Sampling.weightedSample(docs, "src", "doc_id",
        org.apache.spark.sql.functions.col("w"), k = 1000)
    assert(out.count() === 51L)
  }
}

class ShingleContainmentSpec extends graft.SparkSpec {
  import spark.implicits._

  test("a quoted short doc is contained in the long one, not vice versa") {
    val quote = "alpha bravo charlie delta echo foxtrot"       // 6 tokens: 2 5-shingles
    val long = s"intro words here also now $quote closing words trail end"
    val docs = Seq((1L, quote), (2L, long)).toDF("doc_id", "text")
    val out = Dedup.shingleContainment(docs, "text", "doc_id",
        k = 5, threshold = 0.5, maxDf = 50)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(out((1L, 2L)) === 1.0)   // every shingle of the quote is in long
    assert(!out.contains((2L, 1L))) // long doc is NOT mostly the quote
  }

  test("shingles above maxDf are dropped from both sides of the ratio") {
    // the common shingle appears in all 3 docs; with maxDf = 2 it vanishes,
    // leaving docs 1 and 2 sharing nothing
    val common = "one two three four five"
    val docs = Seq(
      (1L, s"$common aaa bbb ccc ddd eee"),
      (2L, s"$common vvv www xxx yyy zzz"),
      (3L, common))
      .toDF("doc_id", "text")
    val strict = Dedup.shingleContainment(docs, "text", "doc_id",
        k = 5, threshold = 0.1, maxDf = 2)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(!strict.contains((1L, 2L)) && !strict.contains((2L, 1L)))
    val loose = Dedup.shingleContainment(docs, "text", "doc_id",
        k = 5, threshold = 0.1, maxDf = 50)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(loose.contains((3L, 1L))) // doc 3 wholly contained once df allows
  }
}

class InterleaveSpec extends graft.SparkSpec {
  import spark.implicits._

  lazy val docs = ((1L to 8L).map(i => (i, "big")) ++ (101L to 104L).map(i => (i, "small")))
    .toDF("doc_id", "source")

  test("positions are a bijection and every prefix stays proportional within 1") {
    val out = Sampling.interleaveBySource(docs, "source", "doc_id")
      .select("doc_id", "source", "pos")
      .as[(Long, String, Long)].collect().sortBy(_._3)
    assert(out.map(_._3).toSeq === (0L until 12L).toSeq)
    val n = Map("big" -> 8.0, "small" -> 4.0)
    for (m <- 1 to 12) {
      val prefix = out.take(m)
      for ((src, ns) <- n) {
        val got = prefix.count(_._2 == src)
        val expect = m * ns / 12.0
        assert(math.abs(got - expect) <= 1.0,
          s"prefix $m: $src has $got, expected ~$expect")
      }
    }
  }

  test("deterministic under repartitioning") {
    val a = Sampling.interleaveBySource(docs, "source", "doc_id")
      .as[(Long, String, Long)].collect().toSet
    val b = Sampling.interleaveBySource(docs.repartition(7), "source", "doc_id")
      .as[(Long, String, Long)].collect().toSet
    assert(a === b)
  }
}

class ZipfSlopeSpec extends graft.SparkSpec {
  import spark.implicits._

  test("an exact power law recovers its exponent") {
    // ranks are consecutive row numbers, so build counts c_r = 24/r at
    // r = 1..4 (24, 12, 8, 6): ln c = ln 24 − ln r → slope exactly −1
    val toks = Seq(("a", 24), ("b", 12), ("c", 8), ("d", 6))
      .flatMap { case (t, c) => Seq.fill(c)(t) }
    val docs = Seq((1L, "g", toks.mkString(" "))).toDF("id", "grp", "text")
    val out = Scoring.zipfSlope(docs, "text", "grp")
      .select("slope").as[Double].head()
    assert(math.abs(out - (-1.0)) < 1e-3, s"slope $out")
  }

  test("a flat distribution has slope 0; groups are independent") {
    val flat = (1 to 5).flatMap(i => Seq.fill(10)(s"t$i")).mkString(" ")
    val docs = Seq((1L, "flat", flat),
      (2L, "steep", "a a a a a a a a b")).toDF("id", "grp", "text")
    val out = Scoring.zipfSlope(docs, "text", "grp")
      .as[(String, Double)].collect().toMap
    assert(math.abs(out("flat")) < 1e-6)
    assert(out("steep") < -1.0)
  }
}

class PmiBigramsSpec extends graft.SparkSpec {
  import spark.implicits._

  test("an exclusive collocation outranks bigrams of independent fillers") {
    // "hong kong" always co-occur; "the x" pairs spread across many x
    val text = (Seq.fill(6)("hong kong") ++
      (1 to 6).flatMap(i => Seq("the", s"w$i"))).mkString(" ")
    val out = Scoring.pmiBigrams(Seq((1L, text)).toDF("id", "text"),
        "text", minCount = 5, topK = 5)
      .select("rk", "w1", "w2").as[(Long, String, String)].collect()
    assert(out.head._2 === "hong" && out.head._3 === "kong")
  }

  test("bigrams under minCount never appear") {
    val text = "a b " * 10 + "rare pair"
    val out = Scoring.pmiBigrams(Seq((1L, text)).toDF("id", "text"),
        "text", minCount = 5, topK = 10)
      .select("w1").as[String].collect()
    assert(!out.contains("rare"))
  }
}
