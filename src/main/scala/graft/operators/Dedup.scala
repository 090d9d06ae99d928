package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for large-scale corpus pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All are pure DataFrame plans —
  * shuffles only on groupBy/join keys, no driver-side state — so the same
  * code runs on a 1000-executor cluster.
  */
object Dedup {

  /** Exact dedup by content hash: keep the lowest id per identical text.
    * One shuffle on the 128-bit hash — never on the raw text bytes.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Line-level boilerplate removal (the CCNet/RefinedWeb dedup stage that
    * strips navigation menus, cookie banners and footers): a line that
    * occurs — byte-identical after trimming — in at least `minDocs`
    * DISTINCT documents is dropped from every document; surviving lines
    * keep their original order. Returns (doc_id, clean) with one row per
    * input document (a fully-boilerplate document keeps an empty string —
    * dropping rows is the caller's policy decision, not this operator's).
    *
    * Scale shape: lines shuffle on their md5 hash (never the raw line
    * bytes) for the distinct-doc count with map-side partial aggregation,
    * the verdict joins back on the same hash key, and the reassembly
    * groups on doc_id — three bounded-key exchanges, no driver state, no
    * all-pairs anything; duplicate lines WITHIN one document count that
    * document once but are each kept/dropped by the global verdict.
    */
  def dropBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
      minDocs: Int, delim: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("pos", "line")))
      .withColumn("lh", md5(trim(col("line"))))
    val verdict = lines.select("doc_id", "lh").distinct()
      .groupBy("lh").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs) // boilerplate hashes only: the join
      .select(col("lh"), lit(true).as("drop")) //   side stays small-ish
    lines.join(verdict, Seq("lh"), "left")
      .groupBy("doc_id")
      // collect_list skips nulls, so dropped lines vanish while the doc's
      // row survives — a fully-boilerplate document reassembles to ""
      .agg(array_sort(collect_list(
        when(col("drop").isNull, struct(col("pos"), col("line"))))).as("kept"))
      .select(col("doc_id"),
        array_join(transform(col("kept"), k => k("line")), delim).as("clean"))
  }

  /** Fixed MinHash permutation parameters (aᵢ·tid + bᵢ) mod P. */
  final case class Perm(a: Long, b: Long)
  val DefaultPerms: Seq[Perm] = Seq(
    Perm(2, 1), Perm(3, 5), Perm(5, 11), Perm(7, 17),
    Perm(11, 23), Perm(13, 31), Perm(17, 41), Perm(19, 47))
  val MinHashMod = 10007L

  /** distinct k-token shingles of a document as an array column. Shingles,
    * not unigrams, are what MinHash needs for discrimination: on a corpus
    * with a small shared vocabulary every unigram set is near-identical (this
    * test corpus has 31 distinct tokens!) and LSH degenerates to all-pairs;
    * k-shingles grow the universe to |V|^k and make Jaccard meaningful.
    */
  def shingleArray(text: Column, k: Int): Column =
    array_distinct(TextFunctions.tokenNgrams(text, k))

  /** (doc_id, tok) distinct k-token shingles, exploded form. The shingle
    * build is the compute-heavy stage of every lineage over it
    * (containment, novelty, contamination, MinHash) — [[graft.Small.spread]]
    * first.
    */
  def shingleSet(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    graft.Small.spread(df, idCol)
      .select(col(idCol).as("doc_id"), explode(shingleArray(col(textCol), k)).as("tok"))

  /** Engine-independent 32-bit token id: the first 8 hex digits of md5,
    * read as an integer. Pure map-side (no dictionary build, no shuffle) AND
    * reproducible in any engine with an md5 function — the DuckDB oracle
    * computes `CAST('0x' || substr(md5(tok),1,8) AS BIGINT)` and gets the
    * identical id. Uniform over [0, 2³²), so it feeds MinHash permutations
    * and SimHash bit hashes as well as a dictionary rank would.
    */
  def portableTokenId(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long")

  /** (doc_id, tids) — the distinct shingle-token-id set per doc, the shared
    * base of every MinHash path. Portable mode streams shingle bytes straight
    * into MD5 in one native pass
    * ([[graft.functions.NativeExpressions.shingleTidsNative]] —
    * differential-tested against the HOF chain); xxhash mode keeps the HOF
    * chain (xxhash64 is already a single cheap expression).
    */
  private def shingleTids(df: DataFrame, textCol: String, idCol: String,
      shingle: Int, portableIds: Boolean): DataFrame = {
    val tidsExpr: Column =
      if (portableIds)
        graft.functions.NativeExpressions.shingleTidsNative(
          TextFunctions.tokens(col(textCol)), math.max(shingle, 1))
      else {
        val sh =
          if (shingle <= 1) array_distinct(TextFunctions.tokens(col(textCol)))
          else shingleArray(col(textCol), shingle)
        array_distinct(transform(sh, t => pmod(xxhash64(t), lit(1L << 32))))
      }
    // the shingle+hash expression is the compute-heavy per-row stage —
    // spread it across the session parallelism (no-op at corpus scale).
    // Measured trade (r10 at sf0.1, hash-partitioned spread): q55 1.00× on/off — the shuffle pays for itself exactly;
    // the incremental paths (q115 1.15×, q119 1.24×) pay it twice (batch
    // AND corpus side) ahead of persist, a ~0.2 s sf0.1-only overhead
    // that vanishes at corpus scale where spread no-ops — kept for the
    // single-split case the cap exists for.
    graft.Small.spread(df, idCol).select(col(idCol).as("doc_id"), tidsExpr.as("tids"))
      .filter(size(col("tids")) > 0)
  }

  /** (doc_id, band) — each doc exploded to its LSH band keys. One frame, so
    * all bands shuffle once in a single join whose key carries the band
    * index; collisions only form within a band.
    */
  private[operators] def lshBands(base: DataFrame, perms: Seq[Perm], bandSize: Int): DataFrame = {
    // all K signature mins in ONE native-expression pass over the tid array
    // (the HOF chain — K × transform+array_min — walks it K times)
    val sigs = base.select(col("doc_id"),
      graft.functions.NativeExpressions.minhashSigsNative(
        col("tids"), perms.map(p => (p.a, p.b)), MinHashMod).as("sigs"))
    val nBands = perms.size / bandSize
    val bandExprs = (0 until nBands).map { b =>
      val bandCols = (0 until bandSize).map(j => element_at(col("sigs"), b * bandSize + j + 1))
      struct(lit(b).as("b"), concat_ws("_", bandCols: _*).as("v"))
    }
    sigs.select(col("doc_id"), explode(array(bandExprs: _*)).as("band"))
  }

  /** Exact-Jaccard verification of candidate (doc1, doc2) pairs against the
    * tid sets in `base1`/`base2`: returns (doc1, doc2, jaccard) for pairs at
    * or above `threshold`.
    */
  private def verifyJaccard(candidates: DataFrame, base1: DataFrame,
      base2: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(base1.select(col("doc_id").as("doc1"), col("tids").as("tids1")), "doc1" :: Nil)
      .join(base2.select(col("doc_id").as("doc2"), col("tids").as("tids2")), "doc2" :: Nil)
      .select(col("doc1"), col("doc2"),
        size(array_intersect(col("tids1"), col("tids2"))).cast("long").as("inter"),
        size(col("tids1")).cast("long").as("sz1"), size(col("tids2")).cast("long").as("sz2"))
      .select(col("doc1"), col("doc2"),
        round(col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** MinHash + LSH candidate pairs with exact-Jaccard verification.
    *
    * Fully per-row signature computation: shingles → token ids → K MinHash
    * values, all computed inside whole-stage codegen over array columns —
    * the only shuffles are the LSH band self-join (candidate generation,
    * never O(N²)) and the two joins that fetch token-id arrays for the exact
    * `array_intersect` verification of each candidate. No dictionary build,
    * no explode+groupBy re-aggregation. Returns (doc1, doc2, jaccard).
    *
    * @param portableIds true = md5-derived ids ([[portableTokenId]]) —
    *   reproducible in any engine (the correctness oracle's mode); false
    *   (default) = xxhash64 ids, marginally cheaper. Both are pure map-side;
    *   MinHash quality is identical either way (ids are just labels; jaccard
    *   depends only on set membership), and the reported pairs are always
    *   exact-Jaccard verified.
    */
  def minHashLsh(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, perms: Seq[Perm] = DefaultPerms, bandSize: Int = 4,
      shingle: Int = 3, portableIds: Boolean = false): DataFrame = {
    // (doc_id, tids): distinct token-id set per doc, persisted because it
    // feeds both the signature computation and both sides of the
    // verification join. Small relative to the corpus (ids, not text).
    graft.Pin.cached(shingleTids(df, textCol, idCol, shingle, portableIds)) { base =>
      val banded = lshBands(base, perms, bandSize)
      val candidates = banded.select(col("doc_id").as("doc1"), col("band"))
        .join(banded.select(col("doc_id").as("doc2"), col("band")), "band" :: Nil)
        .filter(col("doc1") < col("doc2")).select("doc1", "doc2").distinct()
      // materialize the (small) verified-pair set eagerly and truncate its
      // lineage so the persisted intermediate can be released on return
      verifyJaccard(candidates, base, base, threshold).localCheckpoint(true)
    }
  }

  /** Collapse verified near-dup PAIRS into clusters and pick one keeper per
    * cluster — the final step of the dedup pipeline (candidates → exact
    * verify → cluster → keep-one). Clusters are connected components of the
    * pair graph (transitive closure: if A~B and B~C, one of {A,B,C}
    * survives); the keeper is the minimum id. Returns (doc_id, keep_id) for
    * every document that appears in a pair; a doc is dropped iff
    * doc_id != keep_id. Distribution is the hash-min label propagation of
    * [[graft.graph.PropertyGraph.connectedComponents]] — per-round shuffles
    * on doc id, no driver-side state.
    */
  def dedupClusters(pairs: DataFrame, id1: String = "doc1", id2: String = "doc2",
      smallGraphMaxEdges: Long = 500000L): DataFrame = {
    // materialize the (small) pair set once: the component loop derives its
    // vertex set AND per-round edge joins from it — without this the
    // (typically expensive) pair-generation plan re-executes per derivation.
    // Both paths below have fully consumed the pinned edges by return (the
    // collect, or the component loop's eagerly-materialized rounds).
    graft.Pin.checkpointed(pairs
        .select(col(id1).cast("long").as("src"), col(id2).cast("long").as("dst"))) { edges =>
      // adaptive: verified near-dup pair graphs are orders of magnitude
      // smaller than the corpus (0.1–1% of docs pair up). Below the bound —
      // which also bounds the collect, ~16 bytes/edge — a driver union-find
      // replaces 4–8 distributed label-propagation rounds of job overhead;
      // above it (billions of pairs at 100 TB) the distributed path runs.
      // Both paths produce identical (doc_id, keep_id) rows (spec-asserted).
      val nEdges = edges.count() // free: the frame is checkpointed
      if (nEdges > 0 && nEdges <= smallGraphMaxEdges) {
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        edges.collect().foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          parent.putIfAbsent(a, a)
          parent.putIfAbsent(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // min id becomes the root = the keeper
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val spark = pairs.sparkSession
        val rows = parent.keySet().toArray(Array.empty[java.lang.Long])
          .map(id => org.apache.spark.sql.Row(id.longValue(), find(id)))
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toIndexedSeq),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("keep_id", org.apache.spark.sql.types.LongType, nullable = false))))
      } else {
        graft.graph.PropertyGraph.fromEdges(edges)
          .connectedComponents()
          .select(col("id").as("doc_id"), col("component").as("keep_id"))
      }
    }
  }

  /** Exact repeated-span statistics — the "deduplicating training data"
    * substring-level signal: for every document, how many of its distinct
    * `window`-token spans also occur verbatim in ANOTHER document. Docs
    * with a high `dup_frac` are boilerplate-heavy / partially copied even
    * when no whole-document fingerprint matches; pipelines drop or trim
    * them. (The suffix-array formulation finds arbitrary-length repeats;
    * fixed windows are its bounded-memory streaming approximation — any
    * repeat of length ≥ window is caught.)
    *
    * Scale shape: all of a doc's distinct window ids come out of ONE pass
    * over its tokens ([[graft.functions.ShingleTids]] streaming bytes into
    * a reused MD5 digest — the text itself never shuffles, and no window
    * string is ever materialized), as 8-byte longs rather than 32-char hex.
    * The exploded (id, doc_id) frame is exchanged on the id ONCE and that
    * exchange is reused by both consumers (the per-id doc count and the
    * join back), so the corpus-token-bound shuffle happens a single time;
    * the join's build side holds only ids seen in ≥2 docs — the shared
    * tail, a tiny fraction of the id universe. No doc×doc comparison
    * exists anywhere.
    *
    * Returns (doc_id, n_windows, n_shared, dup_frac) for docs with at
    * least `window` tokens; window hashes are counted once per doc.
    */
  def dupSpanStats(df: DataFrame, textCol: String, idCol: String,
      window: Int = 10): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    // (doc_id, n_windows, one row per distinct window id) — n_windows rides
    // along on every exploded row so the final per-doc aggregate needs no
    // second derivation of the token array
    val wh = df.filter(size(toks) >= window)
      .select(col(idCol).as("doc_id"),
        graft.functions.NativeExpressions.shingleTids64Native(toks, window).as("hs"))
      .select(col("doc_id"), size(col("hs")).as("nw"), explode(col("hs")).as("h"))
    // ndocs via a window over the id, not a groupBy+join-back: each (doc,
    // id) row is already distinct, so count(*) over (partition by id) IS
    // the doc count — the corpus is scanned and hashed once and exchanged
    // on the id once, with no join whose build side (the shared tail)
    // could outgrow the broadcast limit at corpus scale
    val byId = org.apache.spark.sql.expressions.Window.partitionBy("h")
    wh.withColumn("ndocs", count(lit(1)).over(byId))
      .groupBy("doc_id").agg(
        max(col("nw")).as("n_windows"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_frac",
        round(col("n_shared").cast("double") / col("n_windows"), 6))
  }

  /** Corpus-level repeated-n-gram report — the diagnostic view behind
    * span-level dedup (which n-grams repeat, how widely, how often): every
    * n-token window of every document, grouped by its text, kept when it
    * appears in at least `minDocs` DISTINCT documents. The output is the
    * boilerplate/template inventory an operator inspects before choosing
    * span-removal thresholds, and the memorization-risk report (Lee et al.
    * 2022 §4 measure duplicated substrings exactly this way).
    *
    * Scale shape: one explode to (doc, ngram), one shuffle on the ngram
    * for a map-side-combined count + distinct-doc count; no doc×doc work.
    * At 100 TB the group key is the n-gram string — cap the explode with a
    * WHERE on token count upstream if documents are pathological, and the
    * ≥ minDocs filter runs inside the aggregate (HAVING), so only the
    * repeated tail leaves the exchange.
    *
    * Returns (ngram, n_docs, n_occ) for n-grams in ≥ `minDocs` docs.
    */
  def repeatedNgrams(df: DataFrame, textCol: String, idCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    df.select(col(idCol).as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - (n - 1)),
        i => array_join(slice(col("toks"), i, lit(n)), " "))).as("ngram"))
      .groupBy("ngram").agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Duplicate-SPAN removal — the rewrite counterpart of [[dupSpanStats]]
    * (which only reports): the "deduplicate training data" semantics of
    * Lee et al. 2022 at k-token-window granularity. Every k-window is
    * hashed; for each hash the lexicographically first occurrence
    * (doc_id, start) is canonical and every other occurrence is a
    * duplicate; a TOKEN is removed iff it is covered by at least one
    * duplicate window and by no canonical window — so exactly one copy of
    * every repeated span survives, boundary tokens shared with unique
    * text survive, and a document that fully duplicates an earlier one
    * reassembles to ''. Documents shorter than k carry no windows and
    * pass through untouched.
    *
    * Scale shape: windows shuffle once on the window hash for the
    * first-occurrence aggregate (map-side combined min-struct), flagged
    * occurrences group back to one row per document, and the per-token
    * keep mask is evaluated INSIDE that row with array HOFs — O(n·w)
    * work bounded by document length, zero additional shuffle, instead of
    * exploding a k-times-larger (doc, position) coverage table through
    * the exchange. A true suffix-array build (exact maximal repeats, not
    * k-windows) needs global order infrastructure Spark does not give
    * you cheaply; window granularity is the Spark-native approximation.
    *
    * Returns (doc_id, clean, n_removed), one row per input document.
    */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"window length k must be >= 2, got $k")
    val base = df.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
    val wins = base.filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - (k - 1)),
        i => struct(i.as("ws"),
          md5(array_join(slice(col("toks"), i, lit(k)), " ")).as("wh")))).as("w"))
      .select(col("doc_id"), col("w.ws").as("ws"), col("w.wh").as("wh"))
    val first = wins.groupBy("wh")
      .agg(min(struct(col("doc_id"), col("ws"))).as("keep"))
    val perDoc = wins.join(first, Seq("wh"))
      .withColumn("dup",
        !(col("keep.doc_id") === col("doc_id") && col("keep.ws") === col("ws")))
      .groupBy("doc_id").agg(
        collect_list(when(col("dup"), col("ws"))).as("dups"),
        collect_list(when(!col("dup"), col("ws"))).as("goods"))
    def covers(starts: Column, p: Column): Column =
      exists(starts, s => s <= p && p < s + k)
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("dups"), array().cast("array<int>")).as("dups"),
        coalesce(col("goods"), array().cast("array<int>")).as("goods"))
      .select(col("doc_id"), size(col("toks")).as("n"),
        filter(
          transform(sequence(lit(1), size(col("toks"))),
            p => struct(p.as("p"), element_at(col("toks"), p).as("t"))),
          s => covers(col("goods"), s("p")) || !covers(col("dups"), s("p"))).as("kept"))
      .select(col("doc_id"),
        array_join(transform(col("kept"), s => s("t")), " ").as("clean"),
        (col("n") - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Incremental dedup: filter a NEW batch against an already-ingested
    * corpus, plus within-batch exact dedup — the every-crawl-cycle operation
    * (dedup the new snapshot against everything kept so far) that full-corpus
    * re-dedup cannot replace at 100 TB.
    *
    * `keyExpr` is the canonical identity (raw `md5(text)` for byte-exact,
    * [[graft.functions.TextFunctions.fingerprint]] for order-insensitive
    * near-exact). Steps: (1) within-batch groupBy(key) keep-min-id;
    * (2) anti-join the survivors against the corpus's DISTINCT keys.
    * Both shuffles move only (key, id) pairs — never document text.
    *
    * @param bloomPrefilter when > 0: build a Bloom filter of that expected
    *   cardinality over the corpus keys and split the batch with it BEFORE
    *   the anti-join — definite-new rows (bloom miss) skip the join
    *   entirely; only bloom hits (true dups + ~1% FPs) shuffle. The result
    *   is identical (the exact anti-join still decides); the join input
    *   shrinks from |batch| to |dups|·(1+fpp), the 100 TB difference.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
      keyExpr: DataFrame => Column, idCol: String,
      bloomPrefilter: Long = 0L): DataFrame = {
    val keyed = batch.select(keyExpr(batch).as("k"), col(idCol).as("doc_id"))
      .groupBy("k").agg(min("doc_id").as("doc_id"))
    val corpusKeys = corpus.select(keyExpr(corpus).as("k")).distinct()
    val novel =
      if (bloomPrefilter <= 0) {
        keyed.join(corpusKeys, Seq("k"), "left_anti")
      } else {
        // the Bloom sketch keys on a 60-bit integer derived from the (hex
        // string) key — a pure function of k, so a true duplicate can never
        // bloom-miss; only the derived value is sketched, the exact anti-join
        // below still compares full keys.
        def kl(c: Column): Column = conv(substring(c, 1, 15), 16, 10).cast("long")
        val bf = corpusKeys.select(kl(col("k")).as("kl"))
          .stat.bloomFilter("kl", bloomPrefilter, 0.01)
        val probed = Sketches.bloomFlag(keyed.withColumn("kl", kl(col("k"))), "kl", bf)
        probed.filter(!col("in_bloom"))
          .unionByName(probed.filter(col("in_bloom"))
            .join(corpusKeys, Seq("k"), "left_anti"))
          .drop("in_bloom", "kl")
      }
    novel.select("doc_id")
  }

  /** Incremental FUZZY dedup: MinHash+LSH a NEW crawl batch against the
    * already-ingested corpus — the rolling-crawl near-dup filter that
    * full-corpus re-dedup ([[minHashLsh]] over batch ∪ corpus) cannot
    * replace at 100 TB, because it would re-band and re-join the entire
    * history every cycle.
    *
    * A batch doc is DROPPED when an exact-Jaccard-verified near-dup
    * (≥ `threshold`) exists either (a) anywhere in the corpus, or (b) at a
    * LOWER id within the batch itself — the same deterministic lower-id
    * keeper rule as [[semDedup]], chosen over transitive clustering so the
    * output is a pure function of the pair predicate (replayable by a
    * non-recursive oracle). Returns the surviving (doc_id) set, including
    * batch docs too short to shingle (nothing to match on — they pass
    * through, mirroring [[minHashLsh]]'s base filter).
    *
    * Scale shape: the corpus contributes only (doc_id, band) keys and
    * (doc_id, tids) id-arrays — never text; candidate generation is one
    * batch×corpus band join plus one within-batch band self-join, each
    * colliding only inside a band. The corpus side of both frames is
    * exactly a [[signatureStore]]; this entry point recomputes it from
    * text for self-containment, [[incrementalMinHashDedupFromStore]] reads
    * the persisted store instead — same plan from the join down.
    */
  def incrementalMinHashDedup(batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      perms: Seq[Perm] = DefaultPerms, bandSize: Int = 4,
      shingle: Int = 3, portableIds: Boolean = false): DataFrame =
    incrementalCore(batch, shingleTids(batch, textCol, idCol, shingle, portableIds),
      shingleTids(corpus, textCol, idCol, shingle, portableIds),
      idCol, threshold, perms, bandSize)

  /** The (doc_id, tids) SIGNATURE STORE: persist this once per ingest cycle
    * (e.g. `signatureStore(newDocs, …).write.parquet(storePath)` appended
    * alongside the corpus) and every future crawl cycle runs
    * [[incrementalMinHashDedupFromStore]] against the store WITHOUT
    * re-reading or re-shingling corpus text — the missing piece that makes
    * rolling-crawl dedup O(|batch| + |store ids|) per cycle at 100 TB.
    * Bands are re-derived from the stored tids at probe time (K cheap
    * arithmetic mins per row), so the store is banding-scheme-agnostic:
    * threshold/band changes need no store rebuild.
    */
  def signatureStore(corpus: DataFrame, textCol: String, idCol: String,
      shingle: Int = 3, portableIds: Boolean = false): DataFrame =
    shingleTids(corpus, textCol, idCol, shingle, portableIds)
      // hashing-scheme metadata rides IN the store: a later cycle probing
      // with a different scheme would intersect NO tids and silently keep
      // every near-duplicate — the worst possible failure mode for a dedup
      .withColumn("sig_shingle", lit(shingle))
      .withColumn("sig_portable", lit(portableIds))

  /** [[incrementalMinHashDedup]] with the corpus side read from a persisted
    * [[signatureStore]] — identical result, no corpus text touched. The
    * batch MUST be hashed with the store's scheme: validated against the
    * store's embedded metadata (stores written before the metadata columns
    * existed skip the check).
    */
  def incrementalMinHashDedupFromStore(batch: DataFrame, store: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      perms: Seq[Perm] = DefaultPerms, bandSize: Int = 4,
      shingle: Int = 3, portableIds: Boolean = false): DataFrame = {
    if (store.columns.contains("sig_shingle")) {
      // validate EVERY scheme present, not a sampled row: a store appended
      // across cycles with different settings must fail loudly — the rows
      // hashed under another scheme would intersect no tids and silently
      // keep every near-duplicate. Bounded collect: one row per distinct
      // scheme ever appended (normally exactly one).
      val schemes = store.select("sig_shingle", "sig_portable").distinct()
        .collect().map(m => (m.getInt(0), m.getBoolean(1))).toSeq.sorted
      // an EMPTY store (first ingest cycle) holds no scheme and
      // constrains nothing — only rows hashed under a different scheme
      // are a wiring error
      require(schemes.isEmpty || schemes == Seq((shingle, portableIds)),
        s"signature store holds rows hashed with scheme(s) " +
          s"${schemes.mkString(", ")} but the batch would be hashed with " +
          s"(shingle=$shingle, portableIds=$portableIds) — tids would " +
          "never intersect and every near-dup would silently survive")
    }
    incrementalCore(batch, shingleTids(batch, textCol, idCol, shingle, portableIds),
      store.select(col("doc_id"), col("tids")),
      idCol, threshold, perms, bandSize)
  }

  /** Inside a [[graft.QueryTrace]], also records the candidate-pair counts
    * of the two band joins as `cand_corpus` and `cand_batch`. They are pure
    * functions of the inputs, so a wall-clock swing at flat counts is
    * environmental, and moving counts point at the band skew the
    * [[Skew]] machinery would cap.
    */
  private def incrementalCore(batch: DataFrame, bBase0: DataFrame,
      cBase0: DataFrame, idCol: String, threshold: Double,
      perms: Seq[Perm], bandSize: Int): DataFrame = {
    val spark = batch.sparkSession
    val traced = graft.QueryTrace.active(spark)
    graft.Pin.cached(bBase0) { bBase =>
      graft.Pin.cached(cBase0) { cBase =>
        val bBands = lshBands(bBase, perms, bandSize)
        val cBands = lshBands(cBase, perms, bandSize)

        // candidate-pair counts ride INSIDE the band joins via observe (a
        // CollectMetrics node): the counts are collected by the tasks that were
        // enumerating those rows anyway — zero extra jobs, zero extra scans —
        // where a count()-based first cut re-paid the store-side signature
        // pass per invocation (measured 0.7–1.0 s/cycle at sf0.1, ~30% of the
        // very gates under investigation)
        val obsCorpus, obsBatch =
          if (traced) Some(new org.apache.spark.sql.Observation()) else None
        def observed(df: DataFrame, obs: Option[org.apache.spark.sql.Observation]) =
          obs.map(o => df.observe(o, count(lit(1)).as("cand"))).getOrElse(df)

        // vs-corpus: candidates keyed (batch doc1, corpus doc2) — ids may
        // coincide across the two sides, so no ordering filter applies here
        val vsCorpus = verifyJaccard(
          observed(bBands.select(col("doc_id").as("doc1"), col("band"))
            .join(cBands.select(col("doc_id").as("doc2"), col("band")), "band" :: Nil)
            .select("doc1", "doc2"), obsCorpus).distinct(),
          bBase, cBase, threshold)
          .select(col("doc1").as("dup_id")).distinct()

        // within-batch: the higher id of each verified pair is the drop
        val withinBatch = verifyJaccard(
          observed(bBands.select(col("doc_id").as("doc1"), col("band"))
            .join(bBands.select(col("doc_id").as("doc2"), col("band")), "band" :: Nil)
            .filter(col("doc1") < col("doc2")).select("doc1", "doc2"), obsBatch)
            .distinct(),
          bBase, bBase, threshold)
          .select(col("doc2").as("dup_id")).distinct()

        val dropped = vsCorpus.unionByName(withinBatch).distinct()
        val out = batch.select(col(idCol).as("doc_id"))
          .join(dropped, col("doc_id") === col("dup_id"), "left_anti")
          .localCheckpoint(true) // survivors are batch-bound; release the bases now
        // the localCheckpoint above completed the observed executions, so the
        // metrics are already published; the bounded wait only covers
        // listener-delivery latency. The row is read POSITIONALLY: an EMPTY
        // row means the optimizer eliminated the observed subtree
        // (PropagateEmptyRelation — the first ingest cycle's empty store), so
        // the true count is 0; a lost metric reads -1, loud nonsense rather
        // than zero candidates.
        def record(key: String, obs: Option[org.apache.spark.sql.Observation]): Unit =
          obs.foreach { o =>
            val cand = try {
              val row = scala.concurrent.Await
                .result(o.future, scala.concurrent.duration.Duration(2, "s"))
              if (row.length == 0) 0.0
              else if (row.isNullAt(0)) -1.0
              else row.getLong(0).toDouble
            } catch { case _: java.util.concurrent.TimeoutException => -1.0 }
            graft.QueryTrace.record(spark, key, cand)
          }
        record("cand_corpus", obsCorpus)
        record("cand_batch", obsBatch)
        out
      }
    }
  }

  /** LCG token hash for SimHash — engine-independent (DuckDB twin uses the
    * same constants; BIGINT math avoids INT32 overflow there).
    */
  private def lcg(tid: Column): Column = (tid * 1103515245L + 12345L) % 2147483648L

  /** `bits`-bit SimHash per document over portable md5-derived token ids:
    * per bit j, sign of Σ_tokens (2·bitⱼ(h(tid)) − 1); simhash =
    * Σ 2ʲ·[sum > 0]. Entirely per-row (array aggregates inside whole-stage
    * codegen) — zero shuffle, so it scans a 100 TB corpus exactly once.
    */
  def simHash(df: DataFrame, textCol: String, idCol: String, bits: Int = 16): DataFrame =
    df.select(col(idCol).as("doc_id"),
      simHashCol(col(textCol), bits).as("simhash"))

  /** The [[simHash]] signature as a bare COLUMN — the per-row stateless
    * core, exposed so streaming pipelines ([[graft.streaming.DocStreams]])
    * can key dedup state on it without a batch-only select shape. All
    * `bits` bit-sums run in ONE native-expression pass over the hash array
    * (the HOF formulation — `bits` × aggregate() — walks it `bits` times);
    * coalesce keeps the null-text behavior (simhash 0, not null).
    */
  def simHashCol(text: Column, bits: Int = 16): Column = {
    val hs = transform(array_distinct(TextFunctions.tokens(text)),
      t => lcg(portableTokenId(t)))
    coalesce(graft.functions.NativeExpressions.simhash64Native(hs, bits), lit(0L))
  }

  /** HOF formulation of [[simHash]] — kept as the differential-test twin. */
  def simHashHof(df: DataFrame, textCol: String, idCol: String, bits: Int = 16): DataFrame = {
    val hs = transform(array_distinct(TextFunctions.tokens(col(textCol))),
      t => lcg(portableTokenId(t)))
    val withH = df.select(col(idCol).as("doc_id"), hs.as("hs"))
    val bitSums = (0 until bits).map { j =>
      aggregate(col("hs"), lit(0L),
        (acc, h) => acc + (shiftright(h, j) % 2 * 2 - 1)).as(s"bs_$j")
    }
    val simhash = (0 until bits).map { j =>
      when(col(s"bs_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    withH.select(col("doc_id") +: bitSums: _*)
      .select(col("doc_id"), simhash.as("simhash"))
  }

  /** SimHash near-dup pairs (Hamming distance ≤ `maxHd`) — banded blocking
    * over DISTINCT signatures, never doc×doc.
    *
    * Signature space is at most 2^bits regardless of corpus size, and real
    * corpora concentrate heavily (this test corpus: 5 000 docs, 968 distinct
    * 16-bit signatures), so the quadratic candidate work runs on the
    * signature table, not the document table: (1) group docs by signature;
    * (2) pigeonhole-band join the distinct signatures — hd ≤ maxHd pairs
    * must agree exactly on ≥ 1 of (maxHd+1) disjoint bit bands; (3) verify
    * with the codegen'd [[graft.functions.NativeExpressions.hamming64]];
    * (4) expand the surviving signature pairs back to doc pairs (output-
    * bound — each emitted doc pair appears exactly once, no final distinct).
    * Degenerate corpora where one signature covers millions of docs should
    * run [[exactDedup]] first — same advice as any LSH family.
    */
  def simHashNearDup(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 16, maxHd: Int = 3): DataFrame = {
    import graft.functions.NativeExpressions.hamming64
    val nBands = maxHd + 1
    val lo = bits / nBands // band widths: bits split as evenly as possible
    val widths = (0 until nBands).map(b => if (b < bits % nBands) lo + 1 else lo)
    val offsets = widths.scanLeft(0)(_ + _).init
    def bandVal(h: Column, b: Int): Column =
      shiftright(h, offsets(b)).bitwiseAND(lit((1L << widths(b)) - 1))

    // ≤ 2^bits rows; materialized eagerly (it feeds both band sides and the
    // diagonal) with lineage truncated so the corpus scan runs exactly once.
    val groups = simHash(df, textCol, idCol, bits)
      .groupBy("simhash").agg(collect_list(col("doc_id")).as("docs"))
      .localCheckpoint(true)

    val bandStruct = (h: Column) => explode(array((0 until nBands).map(b =>
      struct(lit(b).as("band"), bandVal(h, b).as("bv"))): _*)).as("bx")
    val b1 = groups.select(col("simhash").as("h1"), col("docs").as("docs1"), bandStruct(col("simhash")))
      .select(col("h1"), col("docs1"), col("bx.band").as("band"), col("bx.bv").as("bv"))
    val b2 = groups.select(col("simhash").as("h2"), col("docs").as("docs2"), bandStruct(col("simhash")))
      .select(col("h2"), col("docs2"), col("bx.band").as("band"), col("bx.bv").as("bv"))
    val sigPairs = b1.join(b2, Seq("band", "bv"))
      .filter(col("h1") < col("h2"))
      .select(col("h1"), col("h2"), col("docs1"), col("docs2"),
        hamming64(col("h1"), col("h2")).as("hd"))
      .filter(col("hd") <= maxHd)
      .dropDuplicates("h1", "h2") // a signature pair can agree on > 1 band

    // cross-signature expansion: doc sets of distinct signatures are
    // disjoint, so each unordered doc pair is emitted exactly once.
    val cross = sigPairs
      .select(col("hd"), explode(col("docs1")).as("d1"), col("docs2"))
      .select(col("hd"), col("d1"), explode(col("docs2")).as("d2"))
      .select(least(col("d1"), col("d2")).as("doc1"),
        greatest(col("d1"), col("d2")).as("doc2"), col("hd"))
    // within-signature pairs (hd = 0)
    val diag = groups.filter(size(col("docs")) > 1)
      .select(explode(col("docs")).as("d1"), col("docs"))
      .select(col("d1"), explode(col("docs")).as("d2"))
      .filter(col("d1") < col("d2"))
      .select(col("d1").as("doc1"), col("d2").as("doc2"), lit(0).as("hd"))
    cross.unionByName(diag)
  }

  /** Character-n-gram Jaccard near-dup pairs within cheap blocking keys
    * (candidate pairs only form inside a block — the blocking column set
    * must be low-cardinality-per-block at scale, which is exactly what makes
    * the self-join below safe).
    *
    * One shuffle on the block key; each in-block pair is verified with a
    * single `array_intersect` over the two docs' distinct-gram arrays. The
    * alternative inverted-index formulation (explode grams, join on
    * (block, gram), re-aggregate counts) shuffles Σ_gram cnt² rows — orders
    * of magnitude more than the pair list whenever blocks are selective.
    */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String,
      blockCols: Seq[String], n: Int, threshold: Double): DataFrame = {
    val garr = df.select(col(idCol).as("doc_id"), struct(blockCols.map(col): _*).as("blk"),
      TextFunctions.charNgrams(col(textCol), n).as("grams"))
    val p1 = garr.select(col("doc_id").as("doc1"), col("blk"), col("grams").as("g1"))
    val p2 = garr.select(col("doc_id").as("doc2"), col("blk"), col("grams").as("g2"))
    p1.join(p2, "blk" :: Nil).filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"),
        size(array_intersect(col("g1"), col("g2"))).cast("long").as("inter"),
        size(col("g1")).cast("long").as("sz1"), size(col("g2")).cast("long").as("sz2"))
      .select(col("doc1"), col("doc2"),
        round(col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Embedding near-dup pairs: cosine ≥ threshold within a blocking column
    * (e.g. a cluster/label id). Pairwise work bounded per block IN TOTAL —
    * and bounded per TASK by routing the self-join through
    * [[Skew.saltedJoin]]: nothing bounds one block's size (a dense
    * embedding region lands everything in one cluster), so a measured-large
    * input salts the left side by id and replicates the right, splitting a
    * hot block's |block|² across saltFactor tasks. Every unordered pair
    * still meets exactly once after the id1 < id2 filter (spec-asserted
    * identical pair set).
    */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
      blockCol: String, threshold: Double,
      routeOn: Seq[DataFrame] = Nil, maxBlock: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    // optional SEMANTIC cap (0 = off): total pair cost per block is
    // |block|² no matter how the salt splits it — past the cap the block
    // is near-dup soup (the editDistanceNearDup maxBlock rule) and is
    // dropped from both sides before pairing. Oracle-visible.
    val base = if (maxBlock <= 0) df else {
      val wBlk = org.apache.spark.sql.expressions.Window
        .partitionBy(col(blockCol))
      df.withColumn("__bn", count(lit(1)).over(wBlk))
        .where(col("__bn") <= maxBlock).drop("__bn")
    }
    val v1 = base.select(col(idCol).as("id1"), col(blockCol).as("blk"), col(vecCol).as("v1"))
    val v2 = base.select(col(idCol).as("id2"), col(blockCol).as("blk"), col(vecCol).as("v2"))
    Skew.saltedJoin(v1, v2, Seq("blk"), "id1", routeOn = routeOn)
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), round(cosine(col("v1"), col("v2")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster the
    * embeddings with the deterministic distributed k-means, then prune
    * within each cluster — a row is dropped when a LOWER-id row in the same
    * cluster is cosine-similar above `threshold`. Keeping the lowest id (the
    * paper keeps the point farthest from the centroid; any deterministic
    * keeper rule gives the same dedup rate) makes the output a pure function
    * of the data, which is what lets the DuckDB oracle replay it exactly.
    *
    * Output: (vec_id, cluster, kept) for EVERY input row.
    *
    * Scale: all-pairs work is confined to a cluster (pick k so n/k rows fit
    * a partition — k ~ n/50k at corpus scale; the paper also uses k in the
    * thousands). The candidate join shuffles (id, cluster, vector) once on
    * the cluster key and rides [[embeddingNearDup]]'s salted self-join, so
    * one dense cluster — the semantic-dup-heavy corpora this operator
    * exists for produce exactly that — splits its |cluster|² across
    * saltFactor tasks instead of serializing the stage; cosine is the
    * codegen'd native expression; only the k×dim centroid model ever
    * reaches the driver (inside kmeans).
    */
  def semDedup(df: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int, threshold: Double, maxCluster: Int = 0): DataFrame = {
    val assigned = Clustering.kmeans(df, vecCol, idCol, k, iters)
    val withCluster = df
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .join(assigned, Seq("vec_id"))
    // salt routing reads the TRUE corpus size — the withCluster lineage
    // estimates as an equi-join byte product under default (no-CBO) stats.
    // maxCluster (0 = off) drops over-cap clusters from the PAIRING only —
    // their rows still emit (kept = true): a cluster that big is a k-too-
    // small symptom; the principled fix is k ~ n/50k.
    val dropped = embeddingNearDup(withCluster, "v", "vec_id", "cluster",
        threshold, routeOn = Seq(df.select(col(idCol), col(vecCol))),
        maxBlock = maxCluster)
      .select(col("id2").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("is_dup").isNull.as("kept"))
  }

  /** Shingle CONTAINMENT pairs — the asymmetric near-dup relation Jaccard
    * resemblance misses: a short document wholly quoted inside a long one
    * has high containment |A∩B|/|A| but low Jaccard (the union is dominated
    * by the long doc). The quote/subset-detection stage: drop or down-weight
    * documents mostly contained in another.
    *
    * Emits (doc_a, doc_b, containment) with containment = |kept-shingles(A)
    * ∩ kept-shingles(B)| / |kept-shingles(A)| ≥ threshold, both directions
    * (the relation is asymmetric), doc_a ≠ doc_b.
    *
    * Scale shape: an inverted-index self-join on the k-token shingle — per-
    * shingle pair work is df², so shingles with document frequency >
    * `maxDf` are DROPPED first (they are boilerplate, carry no containment
    * signal, and are exactly the rows that would blow the join up); the
    * bound makes per-shingle work ≤ maxDf² regardless of corpus size.
    * Containment is computed over the kept (discriminative) shingles on
    * both sides of the ratio, so the filter is consistent, and documents
    * with zero kept shingles are absent.
    */
  def shingleContainment(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, threshold: Double = 0.6, maxDf: Int = 50): DataFrame = {
    val sh = shingleSet(df, textCol, idCol, k)
    // posting lists, df-bounded in the same aggregate — one shuffle on the
    // shingle; pairs expand IN-ROW from each ≤maxDf list (a sorted a<b
    // nested transform), so there is no posting-list self-join and the
    // shingle lineage is computed once, not once per join side (the
    // self-join twin re-measured 2.3 s vs 1.5 s for this form at sf0.1 —
    // the StockCompare comparator keeps the honest pair)
    val byTok = sh.groupBy("tok")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) <= maxDf)
    val unordered = byTok
      .where(size(col("ds")) >= 2)
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> " +
          "transform(slice(ds, i + 2, size(ds) - i - 1), b -> struct(a, b))))"))
        .as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // |A∩B| is symmetric; the ratio is not — emit both directions
    val inter = unordered.unionByName(unordered.select(
      col("doc_b").as("doc_a"), col("doc_a").as("doc_b"), col("inter")))
    // |kept-shingles(doc)|: docs in any ≤maxDf posting list, counted once per
    // list membership (equivalent to filtering (doc, tok) rows by tok df)
    val sizes = byTok.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz")), Seq("doc_a"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / col("sz"), 6).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Edit-distance-verified near-duplicate pairs on a document-prefix key —
    * the entity-resolution modality (typo'd titles, OCR slips, re-encodes)
    * that set-based Jaccard misses: one transposed character barely moves a
    * shingle set but costs exactly 1 edit.
    *
    * Blocking before verification keeps the work far from doc×doc: only
    * pairs agreeing on (first whitespace token, ⌊prefix length / bandWidth⌋)
    * are candidates — a same-hash-bucket equi-join. Real deployments
    * tighten recall by unioning several blocking passes (or seeding
    * candidates from [[minHashLsh]]) — the verify stage is shared.
    *
    * Skew: first tokens are Zipf-distributed, so one hot block ("The …")
    * would otherwise do its whole O(block²) verification in a single task.
    * Two guards:
    *   - `maxBlock` (semantic, [[shingleContainment]]'s maxDf pattern): a
    *     block larger than the cap is boilerplate-keyed — a prefix shared
    *     by that many documents carries no near-dup signal — and is DROPPED
    *     before pairing, bounding total work at maxBlock² per block at any
    *     corpus size. Oracle-visible; replicate the cap in comparisons.
    *   - `saltFactor` (pure execution): the self-join on (w1, band) is
    *     [[Skew.saltedJoin]] salted by doc id, so each surviving block's
    *     quadratic work splits across S tasks of block²/S. The pair set is
    *     identical at every factor (spec-asserted), only the task
    *     boundaries move. The default (saltFactor = 0) routes on the
    *     keyed input's size estimate: a measured-small input skips the S×
    *     replication (no block can be hot enough to matter), a large or
    *     unknown one salts.
    *
    * Verification uses Spark's banded `levenshtein(l, r, threshold)`
    * (O(maxDist·n) early-exit DP, codegen'd; returns −1 past the bound), so
    * far-apart candidates cost O(maxDist) columns, not a full DP table.
    * Returns (a_id, b_id, dist), a_id < b_id, dist ≤ maxDist.
    */
  def editDistanceNearDup(df: DataFrame, textCol: String, idCol: String,
      prefixLen: Int = 40, maxDist: Int = 10, bandWidth: Int = 8,
      maxBlock: Int = 10000, saltFactor: Int = 0): DataFrame = {
    val keyed0 = df.where(length(col(textCol)) > 0).select(
      col(idCol).as("doc_id"),
      substring(col(textCol), 1, prefixLen).as("key"),
      split_part(col(textCol), lit(" "), lit(1)).as("w1"),
      floor(length(substring(col(textCol), 1, prefixLen)) / bandWidth).as("band"))
    // block-size cap: one windowed count per block (a single shuffle on
    // the block key — the aggregate+semi-join twin pays that shuffle twice)
    // — blocks past the cap never reach the pair join
    val wBlock = org.apache.spark.sql.expressions.Window.partitionBy("w1", "band")
    val keyed = keyed0.withColumn("__bn", count(lit(1)).over(wBlock))
      .where(col("__bn") <= maxBlock).drop("__bn")
    val a = keyed.select(col("doc_id").as("a_id"), col("key").as("a_key"),
      col("w1"), col("band"))
    val b = keyed.select(col("doc_id").as("b_id"), col("key").as("b_key"),
      col("w1"), col("band"))
    // the banded form returns −1 past the bound, so `>= 0` alone IS the
    // "within maxDist" predicate — and it lives directly in the filter so
    // the DP runs ONCE per candidate (an aliased dist column re-evaluates
    // per reference after projection collapse: 2.7 s → 0.9 s at sf0.1);
    // the output projection recomputes it only for the few survivors
    Skew.saltedJoin(a, b, Seq("w1", "band"), "a_id", saltFactor,
        routeOn = Seq(keyed0))
      .where(col("a_id") < col("b_id") &&
        levenshtein(col("a_key"), col("b_key"), maxDist) >= 0)
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_key"), col("b_key"), maxDist).cast("long").as("dist"))
  }

  /** Maximal cross-document duplicated spans via strided suffix sort — the
    * suffix-array flavor of substring dedup (Lee et al. 2022 §3 build a
    * suffix array and read duplicated substrings off ADJACENT sorted
    * suffixes; this is that idea expressed as one range shuffle + a
    * partitioned sort, no pairwise doc joins and no per-length re-grouping).
    * Unlike the fixed-k gram surfaces ([[dupSpanStats]],
    * [[repeatedNgrams]]) the span length is DISCOVERED: one pass reports
    * the longest observed cross-doc match in (minLen, maxLen] per seed.
    *
    *   - every document contributes token-level suffixes at positions
    *     1, 1+stride, 1+2·stride, … (strided sampling bounds the suffix
    *     table at |tokens|/stride rows — the standard trade: a duplicated
    *     span of length L is still seeded unless L < minLen + stride − 1),
    *     each truncated to `maxLen` tokens;
    *   - suffixes shuffle ONCE on their `minLen`-token prefix (the
    *     bucket); buckets over `maxBucket` suffixes are dropped before the
    *     sort (boilerplate seeds, the [[shingleContainment]] maxDf rule —
    *     the cap keeps per-bucket work O(maxBucket·log maxBucket) at any
    *     corpus size, so one hot seed cannot serialize a task);
    *   - within a bucket, suffixes sort lexicographically and each
    *     ADJACENT pair from two different documents reports its common
    *     token-prefix length — prefix equality is monotone in j, so the
    *     match length is minLen + |{ j ∈ (minLen, maxLen] : prefixes of
    *     length j equal }| with j capped to both suffix lengths.
    *
    * Returns the top-`topN` seeds: (rk, span, dup_len, n_docs, n_occ) —
    * `span` the minLen-token seed, `dup_len` the maximal adjacent
    * cross-doc match observed for it, ranked (dup_len DESC, span ASC).
    * Only seeds appearing in ≥ 2 distinct documents survive; the ranked
    * tail is boilerplate-inventory-sized (seeds with a cross-doc match),
    * the q130/q175 report convention.
    */
  def maximalDupSpans(df: DataFrame, textCol: String, idCol: String,
      stride: Int = 4, minLen: Int = 5, maxLen: Int = 8,
      maxBucket: Int = 50, topN: Int = 20): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(maxLen > minLen, s"maxLen ($maxLen) must be > minLen ($minLen)")
    import org.apache.spark.sql.expressions.Window
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    val sfx = df.filter(size(toks) >= minLen)
      .select(col(idCol).as("doc_id"),
        explode(sequence(lit(1), size(toks) - (minLen - 1), lit(stride)))
          .as("p"), toks.as("t"))
      .select(col("doc_id"), col("p"),
        slice(col("t"), col("p"), lit(maxLen)).as("sfx"))
      .select(col("doc_id"), col("p"), col("sfx"),
        array_join(slice(col("sfx"), 1, minLen), " ").as("span"),
        array_join(col("sfx"), " ").as("key"))
    // both windows partition on the seed — ONE exchange, reused; the cap
    // filter runs before the sorted window so a dropped bucket never sorts
    val byBucket = Window.partitionBy("span")
    val ordered = Window.partitionBy("span").orderBy("key", "doc_id", "p")
    val capped = sfx.withColumn("bn", count(lit(1)).over(byBucket))
      .where(col("bn") <= maxBucket)
    val matchLen = (lit(minLen) + size(filter(
      sequence(lit(minLen + 1), lit(maxLen)),
      j => j <= least(size(col("sfx")), size(col("prev_sfx"))) &&
        slice(col("sfx"), lit(1), j) === slice(col("prev_sfx"), lit(1), j)))).cast("long")
    val agg = capped
      .withColumn("prev_sfx", lag("sfx", 1).over(ordered))
      .withColumn("prev_doc", lag("doc_id", 1).over(ordered))
      .groupBy("span").agg(
        count(lit(1)).as("n_occ"),
        countDistinct("doc_id").as("n_docs"),
        max(when(col("prev_doc") =!= col("doc_id"), matchLen)).as("dup_len"))
      .where(col("n_docs") >= 2 && col("dup_len").isNotNull)
    // top-N via sort+limit (TakeOrderedAndProject: per-partition heaps +
    // driver merge of topN — the survivor set is the cross-doc boilerplate
    // inventory, unbounded by topN, and an unpartitioned row_number window
    // would funnel all of it through ONE task); the rank window then runs
    // over only the topN survivors (the tokenDrift convention).
    val byLen = Seq(col("dup_len").desc, col("span").asc)
    val rk = Window.orderBy(byLen: _*)
    agg.orderBy(byLen: _*).limit(topN)
      .withColumn("rk", row_number().over(rk).cast("long"))
      .select("rk", "span", "dup_len", "n_docs", "n_occ")
  }

  /** Cross-source near-duplicate attribution: which source PAIRS share
    * near-dup content, and how much — the licensing/contamination
    * diagnostic run before deciding what [[minHashLsh]]+[[dedupClusters]]
    * should drop (a source pair with thousands of verified near-dups is a
    * mirror or a laundered copy; a diagonal entry is within-source
    * templating). Pairs come from the full MinHash+LSH+exact-verify chain;
    * each is attributed to its unordered source pair (least, greatest so
    * the matrix is one triangle incl. the diagonal) and aggregated to a
    * count and mean verified Jaccard.
    *
    * The mean is fixed-point: per-pair 6-dp jaccards scaled to integer
    * micro-units and summed as longs (order-independent — a double sum's
    * value depends on partition order), divided once at the end (the q101
    * rule).
    *
    * Scale: the verified pair list is tiny relative to the corpus; the two
    * source lookups are equi-joins on doc id against an (id, source)
    * projection, and the matrix aggregate is map-side combined down to
    * |sources|² rows at most.
    *
    * @return (src_a, src_b, n_pairs, mean_jac), src_a <= src_b
    */
  def nearDupSourceAttribution(df: DataFrame, textCol: String, idCol: String,
      sourceCol: String, threshold: Double,
      portableIds: Boolean = false): DataFrame = {
    val pairs = minHashLsh(df, textCol, idCol, threshold,
      portableIds = portableIds)
    val srcs = df.select(col(idCol).as("__id"), col(sourceCol).as("__src"))
    pairs
      .join(srcs.select(col("__id").as("doc1"), col("__src").as("s1")), "doc1" :: Nil)
      .join(srcs.select(col("__id").as("doc2"), col("__src").as("s2")), "doc2" :: Nil)
      .select(least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"),
        round(col("jaccard") * 1e6, 0).cast("long").as("__mj"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum("__mj").cast("double") / (lit(1e6) * count(lit(1))), 6)
          .as("mean_jac"))
  }
}
