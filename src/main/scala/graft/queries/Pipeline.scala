package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryTrace, Tables}
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}
import graft.operators.Similarity.{Frame, Ivf, IvfMass, IvfStore, Lsh, Pq,
  Prefix, Sq8, Sq8Store}

/** Training-data pipeline operators over the `documents` and `embeddings`
  * tables: dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), ANN similarity search, and text analysis. The DuckDB
  * oracles re-express the identical deterministic formulas (several are
  * generated programmatically below to keep the two sides in lockstep).
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  /** [[graft.Small.spread]] over the documents table (see that scaladoc
    * for the scale rule): applied only to gates whose scan-stage text map —
    * tokenize / shingle / hash, serialized on the single-row-group bench
    * file — measured as the hot phase in the r18 interleaved A/B probe
    * (OPTIMIZATION_r18.md change 1, which also lists the flat or negative
    * gates that keep the plain scan).
    */
  private def docsSpread(s: SparkSession, d: String): DataFrame =
    graft.Small.spread(Tables(s, d).documents, "doc_id")

  /** The fixed probe count of the IVF envelope gates (q184, q188, q198):
    * `frac` of the measured centroid cells (ids ≡ 0 mod 100), at least 3 —
    * one count job. A constant count would shrink the probed fraction as
    * the corpus grows its centroid subset.
    */
  private def probesFor(e: DataFrame, frac: Double): Int =
    math.max(3, math.ceil(e.filter(col("vec_id") % 100 === 0).count() * frac).toInt)

  /* ---------- shared oracle SQL fragments ---------- */

  /** DuckDB twin of [[Dedup.portableTokenId]]: md5-prefix-as-integer. */
  private def portableTidSql(tok: String): String =
    s"CAST(concat('0x', substr(md5($tok), 1, 8)) AS BIGINT)"

  /** distinct-token-id list per doc — twin of the array in Dedup.simHash. */
  private val tokenTidsSql =
    s"""t AS (SELECT doc_id,
       |  list_transform(list_distinct(string_split_regex(trim(text), '\\s+')),
       |    tk -> ${portableTidSql("tk")}) AS tids FROM documents)""".stripMargin

  /** 3-token-shingle-id list per doc — twin of Dedup.minHashLsh's base. */
  private val shingleTidsSql =
    s"""w0 AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |sh AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(w) - 1),
       |    i -> array_to_string(w[i:i+2], ' '))) AS shingles
       |  FROM w0 WHERE len(w) >= 3),
       |t AS (SELECT doc_id,
       |  list_distinct(list_transform(shingles, s -> ${portableTidSql("s")})) AS tids
       |  FROM sh)""".stripMargin

  private def sigExprsSql: String =
    Dedup.DefaultPerms.zipWithIndex.map { case (p, i) =>
      s"list_min(list_transform(tids, x -> (x*${p.a}+${p.b})%${Dedup.MinHashMod})) AS sig_$i"
    }.mkString(", ")

  /** SimHash CTEs over [[tokenTidsSql]] → sh(doc_id, simhash). */
  private val simhashSql = {
    val bitSums = (0 until 16).map { j =>
      s"list_sum(list_transform(hs, x -> ((x >> $j) & 1) * 2 - 1)) AS bs_$j"
    }.mkString(", ")
    val recompose = (0 until 16).map { j =>
      s"(CASE WHEN bs_$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""$tokenTidsSql,
       |h AS (SELECT doc_id, list_transform(tids, x -> (x * 1103515245 + 12345) % 2147483648) AS hs FROM t),
       |bs AS (SELECT doc_id, $bitSums FROM h),
       |sh AS (SELECT doc_id, CAST($recompose AS BIGINT) AS simhash FROM bs)""".stripMargin
  }

  private val duckTokens = """string_split_regex(trim(text), '\s+')"""

  /** Corpus-fit unigram-LM per-doc nll as a CTE chain ending in
    * `nllt(doc_id, n_tokens, nll)` — the q101 recipe, shared with the
    * percentile-threshold filter oracle (q109).
    */
  private lazy val unigramNllCtes: String =
    s"""w AS (SELECT doc_id, $duckTokens AS toks FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS tok FROM w),
       |c AS (SELECT tok, CAST(count(*) AS DOUBLE) AS cnt FROM tok GROUP BY tok),
       |tot AS (SELECT sum(cnt) AS total FROM c),
       |nllt AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(CAST(round(round(-ln(c.cnt / tot.total), 6) * 1e6, 0) AS BIGINT)) AS DOUBLE)
       |    / (1e6 * count(*)), 4) AS nll
       |FROM tok t JOIN c USING (tok) CROSS JOIN tot
       |GROUP BY t.doc_id)""".stripMargin

  /** The unrolled deterministic-kmeans CTE chain over `src` (the q94
    * oracle technique), ending at assignment CTE `a<iters>` with columns
    * (vec_id, cl); `v` holds the double-cast vectors. Shared by every oracle
    * that replays a kmeans fit (q94 clustering, q104 SemDeDup, q114's
    * semantic curation stage).
    */
  private def kmeansCtes(k: Int, iters: Int, dim: Int,
      src: String = "embeddings"): String = {
    def iterSql(n: Int): String = {
      val prev = s"c${n - 1}"
      s"""d$n AS (SELECT v.vec_id, c.cl,
         |  round(list_sum(list_transform(range(1, ${dim + 1}),
         |    i -> (v.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) * (v.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 9) AS dist
         |  FROM v CROSS JOIN $prev c),
         |a$n AS (SELECT vec_id, cl FROM (
         |  SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn FROM d$n)
         |  WHERE rn = 1),
         |m$n AS (SELECT a.cl, CAST(u.i AS INT) AS pos, round(avg(v.v[CAST(u.i AS INT)]), 6) AS m
         |  FROM v JOIN a$n a USING (vec_id), unnest(range(1, ${dim + 1})) AS u(i)
         |  GROUP BY a.cl, u.i),
         |c$n AS (SELECT p.cl, list(coalesce(m.m, p.cv[CAST(u.i AS INT)]) ORDER BY u.i) AS cv
         |  FROM $prev p CROSS JOIN unnest(range(1, ${dim + 1})) AS u(i)
         |  LEFT JOIN m$n m ON m.cl = p.cl AND m.pos = u.i
         |  GROUP BY p.cl)""".stripMargin
    }
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM $src),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl, v AS cv
       |  FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT $k)),
       |${(1 to iters).map(iterSql).mkString(",\n")}""".stripMargin
  }

  private def stopRatioSql(profile: Seq[String]): String = {
    val set = profile.map(w => s"'$w'").mkString(", ")
    s"len(list_filter($duckTokens, tk -> tk IN ($set)))::DOUBLE / len($duckTokens)"
  }

  /** DuckDB rendition of TextFunctions.qualityScore (shared by the q91
    * batch pipeline and the q100 streaming-twin oracle).
    */
  private lazy val qualitySql: String =
    s"""round(least(len($duckTokens), 200) / 200.0
       |  * (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / greatest(length(text), 1))
       |  * (0.5 + 0.5 * ${stopRatioSql(TextFunctions.LangProfiles.en)}), 6)""".stripMargin

  /* ---------- queries ---------- */

  val queries: Map[String, Q] = Map(
    // exact dedup by content hash (keep lowest id per identical text).
    "q50_dedup_exact" -> ((s, d) => {
      Dedup.exactDedup(Tables(s, d).documents, "text", "doc_id").orderBy("content_hash")
    }),

    // token counting (whitespace tokenizer).
    "q51_token_count" -> ((s, d) => {
      Tables(s, d).documents
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // BPE-ish regex token counting (LLM-pre-tokenizer approximation)
    // alongside the whitespace count.
    "q66_bpe_tokens" -> ((s, d) => {
      Tables(s, d).documents.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("ws_tokens"),
          TextFunctions.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
        .orderBy("doc_id")
    }),

    // quality scoring: length/punct/stopword components + composite score.
    "q52_quality" -> ((s, d) => {
      Tables(s, d).documents.select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextFunctions.stopwordRatio(col("text"), TextFunctions.LangProfiles.en), 6).as("stop_ratio"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // language ID heuristic (stopword-profile scoring).
    "q53_langid" -> ((s, d) => {
      Tables(s, d).documents
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // order-insensitive document fingerprint (md5 of sorted distinct tokens).
    "q54_fingerprint" -> ((s, d) => {
      Tables(s, d).documents
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // MinHash(8) over 3-token shingles + LSH(2 bands × 4), exact-Jaccard
    // verified. Shingles + 4-sig bands: the corpus has a 31-token shared
    // vocabulary, so unigram sets are near-identical and permissive bands
    // degenerate candidate generation to O(N²).
    "q55_minhash_lsh" -> ((s, d) => {
      // portableIds=true so the DuckDB oracle derives the identical
      // md5-based token ids; both modes are pure map-side.
      Dedup.minHashLsh(Tables(s, d).documents, "text", "doc_id", threshold = 0.3,
          portableIds = true)
        .orderBy("doc1", "doc2")
    }),

    // 16-bit SimHash signature per document.
    "q56_simhash" -> ((s, d) => {
      Dedup.simHash(Tables(s, d).documents, "text", "doc_id", bits = 16).orderBy("doc_id")
    }),

    // SimHash near-dup pairs by Hamming distance — drives the codegen'd
    // HammingDistance64 Catalyst Expression plus the signature-grouped
    // pigeonhole band join of Dedup.simHashNearDup: the quadratic candidate
    // work runs over DISTINCT signatures (≤ 2^16, here ~1k for 5k docs),
    // never doc×doc; doc pairs are produced by output-bound expansion.
    "q62_simhash_hamming" -> ((s, d) => {
      Dedup.simHashNearDup(Tables(s, d).documents, "text", "doc_id", bits = 16, maxHd = 3)
        .orderBy("doc1", "doc2")
    }),

    // char-3-gram Jaccard near-dup pairs, blocked on (lang, n_chars).
    // docsSpread: the char-3-gram explode is the gate's hot map (r18).
    "q57_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccard(docsSpread(s, d), "text", "doc_id",
          blockCols = Seq("lang", "n_chars"), n = 3, threshold = 0.3)
        .orderBy("doc1", "doc2")
    }),

    // near-dup cluster collapse: q57's verified pairs → connected components
    // → one keeper per cluster (the keep-one step after candidate
    // generation + exact verification).
    "q68_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.ngramJaccard(docsSpread(s, d), "text", "doc_id",
        blockCols = Seq("lang", "n_chars"), n = 3, threshold = 0.3)
      Dedup.dedupClusters(pairs).orderBy("doc_id")
    }),

    // brute-force cosine top-10 for query vectors vec_id < 5.
    "q58_ann_topk" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      Similarity.topK(e.filter(col("vec_id") < 5), Frame(e), "embedding", "vec_id", k = 10)
        .orderBy("query_id", "rank")
    }),

    // sign-LSH bucketed top-5 (exact rank within the query's bucket).
    "q59_ann_lsh" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      Similarity.topK(e.filter(col("vec_id") < 5), Frame(e), "embedding", "vec_id", k = 5,
          Lsh(bits = 8))
        .orderBy("query_id", "rank")
    }),

    // IVF ANN: centroid cells (ids ≡ 0 mod 100) + 2-probe search.
    "q61_ann_ivf" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      Similarity.topK(e.filter(col("vec_id") < 5), Frame(e), "embedding", "vec_id",
          k = 10, Ivf(centroidMod = 100, probes = 2))
        .orderBy("query_id", "rank")
    }),

    // text normalization: lowercase, strip punctuation, squish whitespace —
    // the canonicalization step ahead of dedup. The synthetic corpus is
    // already clean, so both sides first dirty the text identically
    // (uppercase prefix + injected punctuation/whitespace) to make the
    // normalization do real, checkable work.
    "q63_normalize" -> ((s, d) => {
      val dirty = concat(upper(substring(col("text"), 1, 40)), lit("!!  "), col("text"), lit(" ;; "))
      Tables(s, d).documents.select(col("doc_id"),
          trim(regexp_replace(regexp_replace(lower(dirty), "[.,!?;:]", ""), "\\s+", " ")).as("norm"))
        .orderBy("doc_id")
    }),

    // PII scrubbing: email/phone/IPv4 redaction with typed placeholders —
    // the redaction stage of a training-data pipeline. The synthetic corpus
    // is PII-free, so both sides inject identical deterministic PII first
    // (doc_id-derived email + fixed phone/IP) to make the scrub checkable.
    "q67_pii_scrub" -> ((s, d) => {
      val dirty = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com call 555-123-4567 from 192.168.0.1"))
      Tables(s, d).documents
        .select(col("doc_id"), TextFunctions.scrubPii(dirty).as("clean"))
        .orderBy("doc_id")
    }),

    // deterministic hash split: stable train/holdout assignment as a pure
    // function of doc_id (md5 bucket), reproducible across engines — checked
    // per-document, not just by counts.
    "q69_hash_split" -> ((s, d) => {
      graft.operators.Sampling.hashSplit(
          Tables(s, d).documents.select("doc_id"), "doc_id", trainBuckets = 205)
        .orderBy("doc_id")
    }),

    // global token frequency table (explode + count) — corpus vocabulary stats.
    "q64_token_freq" -> ((s, d) => {
      Tables(s, d).documents
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
    }),

    // per-label embedding centroids (mean pooling) — the aggregation shape
    // behind IVF centroid training; output long form (label, pos, mean).
    "q65_embedding_centroids" -> ((s, d) => {
      Tables(s, d).embeddings
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
        .groupBy(col("label"), (col("pos0") + 1).as("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("mean_v"))
        .orderBy("label", "pos")
    }),

    // embedding near-dup pairs: cosine ≥ 0.8 within the same label block.
    "q60_near_dup_embedding" -> ((s, d) => {
      Dedup.embeddingNearDup(Tables(s, d).embeddings, "embedding", "vec_id", "label", 0.8)
        .orderBy("id1", "id2")
    }),

    // TF-IDF term weight table — explode → (doc, term) tf, term-level df,
    // smooth idf; the index-build aggregation of an IR / retrieval pipeline.
    "q74_tfidf" -> ((s, d) => {
      graft.operators.Scoring.tfidf(Tables(s, d).documents, "text", "doc_id")
        .orderBy("doc_id", "tok")
    }),

    // intra-document repetition signals (Gopher-style quality filters):
    // duplicate-token fraction + most-frequent-bigram fraction.
    // repetition stats are facts about ONE row, so they run as a pure
    // projection: the top-bigram count is a native one-pass expression,
    // replacing an explode → two-groupBy → join plan that shuffled every
    // bigram of the corpus twice. Docs with < 2 tokens have no bigram and
    // drop out, matching the inner join they used to fall out of.
    "q75_doc_repetition" -> ((s, d) => {
      Tables(s, d).documents
        .select(col("doc_id"),
          TextFunctions.dupTokenFraction(col("text")).as("dup_frac"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          graft.functions.NativeExpressions.ngramMaxCountNative(
            TextFunctions.tokens(col("text")), 2).as("max_bg"))
        .filter(col("n_tokens") >= 2)
        .select(col("doc_id"), col("dup_frac"),
          round(col("max_bg").cast("double") / (col("n_tokens") - 1), 6).as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    // train/eval contamination: held-out docs sharing 3-token shingles with
    // the training split (same md5-bucket split rule as q69), via an
    // inverted-index semi join on the shingle.
    "q76_contamination" -> ((s, d) => {
      graft.operators.Contamination.shingleOverlap(
          docsSpread(s, d), "text", "doc_id",
          isTrain = substring(md5(col("doc_id").cast("string")), 1, 2) <= "cc", k = 3)
        .orderBy("doc_id")
    }),

    // top-3 tokens per language — grouped frequency + windowed top-k, the
    // per-slice vocabulary report of corpus curation.
    "q77_top_tokens_per_lang" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables(s, d).documents
        .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tok").asc)
      counts.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .orderBy("lang", "rank")
    }),

    // symmetric int8 embedding quantization (vector compression for ANN
    // serving): per-vector scale 127/max|v|, half-up rounding, long form.
    "q78_vector_quantize" -> ((s, d) => {
      import graft.functions.VectorFunctions
      Tables(s, d).embeddings
        .select(col("vec_id"), col("embedding"),
          VectorFunctions.int8Scale(col("embedding")).as("scale"))
        .select(col("vec_id"), col("scale"),
          posexplode(col("embedding")).as(Seq("pos0", "v")))
        .select(col("vec_id"), (col("pos0") + 1).cast("int").as("pos"),
          floor(col("v").cast("double") * col("scale") + 0.5).cast("int").as("qv"))
        .orderBy("vec_id", "pos")
    }),

    // BM25 relevance of every matching doc against a fixed 3-term query —
    // per-row tf expressions + one broadcast scalar row, zero extra shuffle.
    "q79_bm25" -> ((s, d) => {
      graft.operators.Scoring.bm25(Tables(s, d).documents, "text", "doc_id",
          terms = Bm25Terms)
        .orderBy("doc_id")
    }),

    // unigram-LM perplexity quality scoring (the C4/CCNet filter stage):
    // corpus-fit token probabilities, per-doc mean -ln p(t).
    "q101_unigram_ppl" -> ((s, d) => {
      graft.operators.Scoring.unigramLogLoss(Tables(s, d).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    // exact repeated-span stats (substring-level dedup signal): fraction
    // of each doc's distinct 10-token windows that appear verbatim in
    // another document.
    "q103_dup_spans" -> ((s, d) => {
      Dedup.dupSpanStats(Tables(s, d).documents, "text", "doc_id", window = 10)
        .orderBy("doc_id")
    }),

    // DSIR-style importance score: per-doc mean log ratio between the
    // target-domain (lang='en') and whole-corpus unigram LMs, add-one
    // smoothed — the data-selection weight for target-like resampling.
    "q102_importance_score" -> ((s, d) => {
      graft.operators.Scoring.importanceLogRatio(Tables(s, d).documents,
          "text", "doc_id", col("lang") === "en")
        .orderBy("doc_id")
    }),

    // sequence packing: assign docs (id order) to ~2048-token training
    // shards via a distributed two-phase prefix sum — NOT the single-task
    // global window the oracle uses (the spec proves them equivalent).
    "q87_sequence_packing" -> ((s, d) => {
      graft.operators.Packing.packShards(Tables(s, d).documents, "doc_id",
          TextFunctions.tokenCount(col("text")), budget = 2048)
        .orderBy("doc_id")
    }),

    // temperature-based source mixture resampling (τ=0.5 rebalancing toward
    // tail sources, targeting half the corpus): tiny broadcast rate table +
    // deterministic per-doc uniform draw.
    "q88_mixture_sample" -> ((s, d) => {
      graft.operators.Sampling.mixtureSample(Tables(s, d).documents,
          "source", "doc_id", tau = 0.5, targetFrac = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // incremental dedup of a new crawl batch (src10..19) against the
    // already-ingested corpus (src0..9), keyed on the order-insensitive
    // fingerprint; Bloom prefilter routes definite-new rows around the
    // exact anti-join.
    "q89_incremental_dedup" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val snum = expr("CAST(substring(source, 4, 10) AS INT)")
      graft.operators.Dedup.incrementalDedup(
          docs.filter(snum >= 10), docs.filter(snum < 10),
          _ => TextFunctions.fingerprint(col("text")), "doc_id",
          bloomPrefilter = 1000000L)
        .orderBy("doc_id")
    }),

    // repetition scrub: collapse consecutive duplicate-token runs per doc
    // (indexed-lambda filter, zero shuffle), returning cleaned text + count.
    "q90_scrub_repeats" -> ((s, d) => {
      Tables(s, d).documents.select(col("doc_id"),
          TextFunctions.scrubTokenRuns(col("text")).as("cleaned"),
          TextFunctions.tokenRunsRemoved(col("text")).cast("long").as("n_removed"))
        .orderBy("doc_id")
    }),

    // deterministic distributed k-means over the embeddings (k=8, 3 Lloyd
    // iterations, smallest-id init) — the centroid-training step behind
    // IVF/PQ/semantic-dedup; the DuckDB oracle unrolls the identical three
    // iterations as CTEs.
    "q94_kmeans" -> ((s, d) => {
      graft.operators.Clustering.kmeans(Tables(s, d).embeddings,
          "embedding", "vec_id", k = 8, iters = 3)
        .orderBy("vec_id")
    }),

    // SemDeDup semantic deduplication: k-means clusters (the q94 fit) +
    // within-cluster cosine pruning — drop a row when a lower-id row in its
    // cluster is ≥ 0.35 cosine-similar (the synthetic embeddings are near-
    // orthogonal, so 0.35 plays the role the paper's ~0.9 does on real
    // data: it prunes ~19%). All-pairs work confined to clusters.
    "q104_semdedup" -> ((s, d) => {
      Dedup.semDedup(Tables(s, d).embeddings, "embedding", "vec_id",
          k = 8, iters = 3, threshold = 0.35)
        .orderBy("vec_id")
    }),

    // overlapping token-window chunking (RAG / long-doc prep): 40-token
    // windows, stride 30 — zero-shuffle sequence+explode spans.
    "q105_chunk_windows" -> ((s, d) => {
      graft.operators.Packing.chunkWindows(Tables(s, d).documents, "doc_id",
          TextFunctions.tokenCount(col("text")), window = 40, stride = 30)
        .orderBy("doc_id", "chunk_idx")
    }),

    // per-source quota cap (20 docs/source), keeper chosen by md5 rank —
    // the "no domain dominates" curation move, exact per-group cap.
    "q106_source_quota" -> ((s, d) => {
      graft.operators.Sampling.groupQuota(Tables(s, d).documents,
          "source", "doc_id", quota = 20)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // distributed BPE merge learning (4 rounds over word types): the
    // tokenizer-training step — weighted adjacent-pair counts, highest
    // count wins (ties to smallest pair), greedy left-to-right fuse via
    // string replace. The oracle replays the identical rounds.
    "q110_bpe_merges" -> ((s, d) => {
      graft.operators.Bpe.learnMerges(Tables(s, d).documents, "text", merges = 4)
        .orderBy("merge_idx")
    }),

    // END-TO-END curation with a SEMANTIC stage: quality filter →
    // fingerprint dedup (keep min id) → SemDeDup over the survivors'
    // embeddings (docs without an embedding pass through — at sf0.1 most
    // of the corpus, so left semantics is load-bearing, not decorative).
    "q114_semantic_curation" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, d)
      val quality = t.documents
        .filter(TextFunctions.qualityScore(col("text")) >= 0.2)
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      val survivors = quality
        .withColumn("keep_id", min("doc_id").over(Window.partitionBy("fp")))
        .filter(col("doc_id") === col("keep_id"))
        .select("doc_id")
      val emb = t.embeddings
      val se = emb.join(survivors, emb("vec_id") === survivors("doc_id"))
        .select(emb("vec_id"), emb("embedding"))
      val dropped = Dedup.semDedup(se, "embedding", "vec_id",
          k = 8, iters = 3, threshold = 0.35)
        .filter(!col("kept")).select(col("vec_id").as("doc_id"))
      survivors.join(dropped, Seq("doc_id"), "left_anti").orderBy("doc_id")
    }),

    // incremental FUZZY dedup: MinHash(8)+LSH(2×4) the new crawl batch
    // (src10..19) against the ingested corpus (src0..9), exact-Jaccard
    // verified at 0.3 — the rolling-crawl twin of q89's exact path. A batch
    // doc survives unless a verified near-dup exists in the corpus or at a
    // lower batch id.
    "q115_incremental_fuzzy" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val snum = expr("CAST(substring(source, 4, 10) AS INT)")
      // under the bench's trace the dedup records its candidate counts
      // (this gate tripped the r15 wire at ×1.67 on the driver's run — the
      // counts are deterministic per SF, so the committed record proves
      // whether a future swing moved the work or just the clock)
      Dedup.incrementalMinHashDedup(
          docs.filter(snum >= 10), docs.filter(snum < 10),
          "text", "doc_id", threshold = 0.3, portableIds = true)
        .orderBy("doc_id")
    }),

    // the signature-STORE path of q115: corpus signatures are written to a
    // parquet store once, the batch is deduped against the store with no
    // corpus text touched — the O(|batch|)-per-crawl-cycle shape. Same
    // oracle as q115: the store round-trip must be invisible to the result.
    "q119_store_dedup" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val snum = expr("CAST(substring(source, 4, 10) AS INT)")
      GateTmp.within("graft_sigstore") { dir =>
        Dedup.signatureStore(docs.filter(snum < 10), "text", "doc_id",
            portableIds = true)
          .write.mode("overwrite").parquet(dir.toString)
        // the FromStore result is eagerly pinned (localCheckpoint inside), so
        // the store files are fully consumed before `within` deletes them.
        // Candidate counts as in q115 (this gate tripped the r15 wire at ×1.79).
        Dedup.incrementalMinHashDedupFromStore(
            docs.filter(snum >= 10), Tables.read(s, dir.toString),
            "text", "doc_id", threshold = 0.3, portableIds = true)
          .orderBy("doc_id")
      }
    }),

    // the FULL rolling-crawl ingest loop (DocStreams.ingestDedupStream),
    // gated end-to-end: three crawl cycles arrive as separate micro-
    // batches of one streaming query; each cycle near-dup-dedups within
    // itself (higher id of a verified pair drops) and against the
    // SURVIVORS of all earlier cycles via the persisted signature store —
    // dropped docs leave no signatures, so only kept docs suppress later
    // near-dups (the semantic difference from q115/q119's whole-corpus
    // store, and what the unrolled three-cycle oracle replays).
    "q214_ingest_crawl" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val snum = expr("CAST(substring(source, 4, 10) AS INT)")
      GateTmp.within("graft_ingest") { root =>
        val (src, store, out) = (s"$root/src", s"$root/store", s"$root/out")
        // per-cycle wall clock as spans of the caller's QueryTrace, so the
        // bench record itself carries the decomposition (r13: a consistent
        // ~3× cross-box swing on this gate could only be localized by a
        // separate probe run; now every BENCH_rN shows WHICH cycle carries
        // it). The stream, started inside the trace, adds each micro-batch's
        // sub-steps and candidate counts (b<N>_store_read, b<N>_dedup, ...).
        def span[T](n: String)(body: => T): T = QueryTrace.span(s, n)(body)
        val q = span("setup") {
          docs.filter(snum < 7).write.mode("append").parquet(src)
          graft.streaming.DocStreams.ingestDedupStream(
            s.readStream.schema(docs.schema).parquet(src), store, out,
            s"$root/ckpt", threshold = 0.3, portableIds = true)
        }
        try {
          span("cycle1")(q.processAllAvailable())
          span("cycle2") {
            docs.filter(snum >= 7 && snum < 14).write.mode("append").parquet(src)
            q.processAllAvailable()
          }
          span("cycle3") {
            docs.filter(snum >= 14).write.mode("append").parquet(src)
            q.processAllAvailable()
          }
        } finally q.stop()
        span("readback")(Tables.read(s, out).select("doc_id").orderBy("doc_id")
          .localCheckpoint(true))
      }
    }),

    // CDC latest-wins upsert sink (DocStreams.upsertStream) — the crawl-
    // REFRESH shape, where a re-crawled doc's later version REPLACES the
    // stored one (vs q214, which DROPS near-dups): three overlapping
    // versioned update cycles arrive as separate micro-batches and merge
    // into a bucket-partitioned parquet table via dynamic partition
    // overwrite; only buckets containing updated keys are read or
    // rewritten. The bucket hash is the portable q69 idiom, so the final
    // table — layout column included — is replayed by the oracle: each
    // doc ends at the highest version of any cycle that contained it.
    "q216_cdc_upsert" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val snum = expr("CAST(substring(source, 4, 10) AS INT)")
      GateTmp.within("graft_upsert") { root =>
        val (src, table, ckpt) = (s"$root/src", s"$root/table", s"$root/ckpt")
        def cycle(n: Int, f: org.apache.spark.sql.Column) =
          docs.filter(f).select(col("doc_id"),
            lit(n).cast("int").as("version"),
            concat(col("text"), lit(s" [rev $n]")).as("text"))
        cycle(1, snum < 14).write.mode("append").parquet(src)
        val q = graft.streaming.DocStreams.upsertStream(
          s.readStream.schema(Tables.read(s, src).schema).parquet(src),
          table, ckpt, "doc_id", "version", buckets = 8)
        try {
          q.processAllAvailable()
          cycle(2, snum >= 7 && snum < 17).write.mode("append").parquet(src)
          q.processAllAvailable()
          cycle(3, snum >= 14 || snum < 3).write.mode("append").parquet(src)
          q.processAllAvailable()
        } finally q.stop()
        Tables.read(s, table)
          .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
            col("version"), md5(col("text")).as("content_hash"))
          .orderBy("doc_id").localCheckpoint(true)
      }
    }),

    // small-file compaction (Layout.compactPartitions) — the maintenance
    // pass behind every append-mode sink: four appends × repartition(4)
    // leave ~16 files per partition dir; one compaction pass rewrites
    // each over-fragmented dir to its byte-target file count (1 here) and
    // a second pass is REQUIRED in-gate to be a no-op (the pass touches
    // the debt, never the table). Content is the hash-gated output — a
    // compaction that loses or duplicates a row fails the oracle.
    "q217_compact_table" -> ((s, d) => {
      val docs = Tables(s, d).documents
      GateTmp.within("graft_compact") { root =>
        val table = s"$root/table"
        val src = docs.select(col("doc_id"),
          pmod(col("doc_id"), lit(4L)).as("grp"), col("text"))
        for (i <- 0 until 4)
          src.filter(pmod(floor(col("doc_id") / 4), lit(4)) === i)
            .repartition(4)
            .write.mode("append").partitionBy("grp").parquet(table)
        val report = graft.operators.Layout.compactPartitions(
          s, table, targetBytes = 128L << 20)
        require(report.size == 4 && report.forall(_._3 == 1),
          s"expected 4 fragmented dirs compacting to 1 file, got $report")
        require(graft.operators.Layout.compactPartitions(
            s, table, 128L << 20).isEmpty,
          "re-compaction of a compact table must be a no-op")
        Tables.read(s, table)
          .select(col("doc_id"), col("grp").cast("long").as("grp"),
            md5(col("text")).as("content_hash"))
          .orderBy("doc_id").localCheckpoint(true)
      }
    }),

    // portable rows-CMS frequency gate: per-source sketches (the per-batch
    // ingest shape) merged by bucket-count sum — never rescanning the
    // batches — then probed for every distinct token. width 64 forces real
    // bucket collisions, so est > exact for some tokens: the CMS
    // overestimate is part of the gated contract (the oracle replays the
    // identical hash family), not noise.
    "q116_cms_freq" -> ((s, d) => {
      // ONE corpus scan: per-(source, token) exact counts, pinned (vocab ×
      // sources rows — KBs), feed both the weighted sketch build and the
      // probe set; the unaggregated form re-tokenized and re-hashed the
      // corpus once per consumer
      val grouped = Tables(s, d).documents
        .select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .withColumn("tid", Dedup.portableTokenId(col("tok")))
        .groupBy("source", "tok", "tid").agg(count(lit(1)).as("w"))
        .localCheckpoint(true)
      val perSource = graft.operators.Sketches.cmsBuildRows(
        grouped, "tid", Seq("source"), weightCol = Some("w"))
      val merged = graft.operators.Sketches.cmsMergeRows(perSource)
      val probes = grouped.groupBy("tok", "tid").agg(sum("w").as("exact"))
      graft.operators.Sketches.cmsEstimate(probes, merged, "tid")
        .select(col("tok"), col("exact"), col("est"))
        .orderBy("tok")
    }),

    // per-source dataset datasheet in ONE grouped pass: docs, tokens, mean
    // quality, language spread, exact-dup profile — the "data card" scan a
    // curation run publishes alongside its output. All five metrics ride
    // one shuffle on the source key.
    "q117_source_stats" -> ((s, d) => {
      Tables(s, d).documents.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"),
        round(avg(TextFunctions.qualityScore(col("text"))), 6).as("avg_quality"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(col("text"))).as("n_unique")
      ).orderBy("source")
    }),

    // REAL image/audio decode under the driver gate: the committed WAV/
    // PNG/BMP fixtures (several with analytically-known decode results —
    // white image ⇒ grid intensity exactly 1.0, constant sine ⇒ RMS
    // windows at amp/√2, trailing silence ⇒ 0) decode through the JDK
    // codec seam at Verify time; the oracle just reads the committed
    // expected table. sfDir-independent by design — the fixtures ARE the
    // dataset.
    "q121_multimodal_decode" -> ((s, _) => {
      val local = new java.io.File("fixtures/multimodal")
      val dir = if (local.isDirectory) local.getAbsolutePath
        else "/root/repo/fixtures/multimodal"
      graft.multimodal.Multimodal.decodeDirTable(s, dir)
        .orderBy("name", "feat_idx")
    }),

    // interpolated trigram-LM perplexity (λ-mixture of add-one trigram/
    // bigram/unigram — the smoothing that makes higher-order n-gram
    // filters usable): per-doc mean -ln p over transitions, q101/q123
    // integer-lifted portability.
    "q147_trigram_ppl" -> ((s, d) => {
      graft.operators.Scoring.trigramLogLoss(
          Tables(s, d).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    // per-dimension z-standardization of the embeddings (feature prep):
    // moments from exact integer sums (decimal accumulators — order-free
    // and overflow-proof), one division each, constant dims report 0.
    "q144_standardize" -> ((s, d) => {
      graft.operators.Similarity.standardize(
          Tables(s, d).embeddings, "embedding", "vec_id")
        .orderBy("vec_id", "pos")
    }),

    // first principal direction by deterministic power iteration (6
    // rounds, integer-lifted sums and an arbitrary-precision normalizer —
    // no order-dependent float accumulation anywhere): per-vector pc1
    // projection. The embedding-analysis primitive behind variance probes
    // and 1-D semantic ordering.
    "q143_pca_power" -> ((s, d) => {
      graft.operators.Clustering.powerIterationPc1(
          Tables(s, d).embeddings, "embedding", "vec_id", iters = 6)._1
        .orderBy("vec_id")
    }),

    // Luhn-validated card masking (the PII stage regex alone cannot do):
    // both sides inject a doc-varying 16-digit run (Luhn-valid for ~10%
    // of docs), an always-valid card, and a 20-digit non-candidate; the
    // engine runs the GENERIC maximal-run scanner, the oracle replays the
    // checksum on the known constructions.
    "q142_luhn_scrub" -> ((s, d) => {
      val c1 = concat(lit("45320151128"),
        lpad((col("doc_id") % 100000).cast("string"), 5, "0"))
      val dirty = concat(col("text"), lit(" pay "), c1,
        lit(" or 4532015112830366 ref 12345678901234567890 end"))
      val scrubbed = graft.functions.NativeExpressions.luhnScrubNative(dirty)
      Tables(s, d).documents
        .select(col("doc_id"), scrubbed.as("scrubbed"))
        .select(col("doc_id"), col("scrubbed"),
          ((length(col("scrubbed"))
            - length(replace(col("scrubbed"), lit("[CC]"), lit("")))) / 4)
            .cast("long").as("n_cc"))
        .orderBy("doc_id")
    }),

    // mixed-language detection: per-profile stopword ratios in one
    // zero-shuffle projection; a doc hitting >= 2 profiles above the
    // threshold is flagged — the code-switching/boilerplate-splice signal
    // single-label language ID (q53) cannot express.
    "q152_lang_mix" -> ((s, d) => {
      import TextFunctions.LangProfiles
      def r(p: Seq[String]) = TextFunctions.stopwordRatio(col("text"), p)
      val profiles = Seq("en" -> LangProfiles.en, "de" -> LangProfiles.de,
        "fr" -> LangProfiles.fr, "es" -> LangProfiles.es)
      val nLangs = profiles.map { case (_, p) =>
        when(r(p) >= 0.02, 1L).otherwise(0L) }.reduce(_ + _)
      Tables(s, d).documents.select(
          col("doc_id") +:
            profiles.map { case (nm, p) => round(r(p), 6).as(s"r_$nm") } :+
            nLangs.as("n_langs") :+ (nLangs >= 2).as("is_mixed"): _*)
        .orderBy("doc_id")
    }),

    // corpus snapshot diff (crawl-over-crawl delta): both sides derive
    // the same synthetic "previous version" — docs with id%10==3 absent
    // (→ added), id%10==7 carrying a ' v1' suffix (→ changed), plus
    // id+1000000 ghosts for id%10==5 (→ removed) — and the operator's
    // full-outer hash compare must label every id. The delta is what
    // incremental dedup/contamination runs consume instead of a rescan.
    "q151_snapshot_diff" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val oldBase = docs.filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 7, concat(col("text"), lit(" v1")))
            .otherwise(col("text")).as("text"))
      val ghosts = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      graft.operators.Snapshot.diff(
          oldBase.unionByName(ghosts), docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // WARC ingestion end-to-end under the driver gate: parse the
    // committed crawl container (ISO 28500 record walk), keep response
    // records, extract text from the HTML payloads — the crawl-to-corpus
    // front door. The oracle states the expected rows literally (the
    // fixture's payloads are known), so this gate is fully hand-checkable.
    "q150_warc_extract" -> ((s, _) => {
      val local = new java.io.File("fixtures/web")
      val dir = if (local.isDirectory) local.getAbsolutePath
        else "/root/repo/fixtures/web"
      graft.operators.Warc.warcDirTable(s, dir)
        .filter(col("warc_type") === "response")
        .select(col("record_idx").cast("long").as("record_idx"), col("uri"),
          graft.operators.Web.htmlToText(
            col("payload").cast("string")).as("clean"))
        .orderBy("record_idx")
    }),

    // REAL video frame SAMPLING under the driver gate: every 4th frame
    // of the committed MJPEG AVI (true container boundaries), decoded,
    // reduced to mean luminance — ramp16.avi's frame i is constant gray
    // ~i/15 (spec hand-checks); oracle reads the committed expected table.
    "q149_video_frames" -> ((s, _) => {
      val local = new java.io.File("fixtures/multimodal")
      val dir = if (local.isDirectory) local.getAbsolutePath
        else "/root/repo/fixtures/multimodal"
      graft.multimodal.Multimodal.videoFrameLuminanceTable(s, dir, everyNth = 4)
        .orderBy("name", "frame_idx")
    }),

    // REAL image resize under the driver gate (the q121 fixture pattern):
    // nearest-neighbor 4x4 intensity grid of each committed image fixture
    // — white ⇒ all 1.0, black ⇒ 0.0, the ramp ⇒ its source column's
    // analytic level (spec hand-checks those); the oracle reads the
    // committed expected table.
    "q140_multimodal_resize" -> ((s, _) => {
      val local = new java.io.File("fixtures/multimodal")
      val dir = if (local.isDirectory) local.getAbsolutePath
        else "/root/repo/fixtures/multimodal"
      graft.multimodal.Multimodal.resizeDirTable(s, dir, 4, 4)
        .orderBy("name", "y", "x")
    }),

    // HTML -> text extraction (the crawl-to-corpus stage, regex tier):
    // both sides wrap text in the same deterministic page chrome (title/
    // script/style/nav/ad/footer — the q67 injection pattern), the
    // operator must drop script+style WITH contents, strip tags, collapse
    // whitespace. Zero shuffle; patterns in the Java-regex ∩ RE2 subset.
    "q137_html_extract" -> ((s, d) => {
      val html = concat(
        lit("<html><head><title>doc "), col("doc_id"),
        lit("</title><script>var x = 1;</script><style>p{color:red}</style>" +
          "</head><body><nav><a href=\"/\">home</a> | <a href=\"/about\">about</a></nav><p>"),
        col("text"),
        lit("</p><div class=\"ad\">buy now</div><footer>(c) example</footer></body></html>"))
      Tables(s, d).documents
        .select(col("doc_id"),
          graft.operators.Web.htmlToText(html).as("clean"))
        .select(col("doc_id"), col("clean"),
          length(col("clean")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // per-doc OOV rate against the corpus's own top-100 vocabulary
    // (count DESC, token ASC rank) — the tokenizer-coverage diagnostic.
    // Vocab rides a broadcast; corpus shuffles only the token type table.
    "q138_oov_rate" -> ((s, d) => {
      graft.operators.Scoring.oovRate(
          Tables(s, d).documents, "text", "doc_id", k = 100)
        .orderBy("doc_id")
    }),

    // cross-source 3-shingle overlap matrix: distinct (source, shingle)
    // pairs self-joined on the shingle — per-shingle work bounded by
    // C(#sources, 2), never by documents. The provenance/mirror report.
    "q139_source_overlap" -> ((s, d) => {
      graft.operators.Contamination.sourceOverlap(
          docsSpread(s, d), "text", "source", k = 3)
        .orderBy("src1", "src2")
    }),

    // Gopher REPETITION signals (Rae et al. A1.1 Table A1): fraction of
    // characters in the most frequent {2,3,4}-gram (tie-robust
    // count·chars product form) and fraction of characters covered by
    // duplicated {5,10}-grams — all five from one-pass native expressions
    // (O(W·n) hashmap per row; the HOF twin is O(W²)), zero shuffle.
    "q134_gopher_repetition" -> ((s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      def rep(nv: Int) =
        graft.functions.NativeExpressions.ngramRepCharsNative(toks, nv)
      def topFrac(r: org.apache.spark.sql.Column) =
        round(element_at(r, 1).cast("double") / element_at(r, 3), 6)
      def dupFrac(r: org.apache.spark.sql.Column) =
        round(element_at(r, 2).cast("double") / element_at(r, 3), 6)
      Tables(s, d).documents
        .select(col("doc_id"), rep(2).as("r2"), rep(3).as("r3"),
          rep(4).as("r4"), rep(5).as("r5"), rep(10).as("r10"))
        .select(col("doc_id"),
          element_at(col("r2"), 3).as("total_chars"),
          topFrac(col("r2")).as("top2_frac"),
          topFrac(col("r3")).as("top3_frac"),
          topFrac(col("r4")).as("top4_frac"),
          dupFrac(col("r5")).as("dup5_frac"),
          dupFrac(col("r10")).as("dup10_frac"))
        .orderBy("doc_id")
    }),

    // the Gopher heuristic filter (Rae et al. 2021 A1.1): word count,
    // mean word length, symbol ratio, alpha-word fraction, stop-word
    // presence — every signal plus the AND verdict, one scan, no shuffle.
    "q133_gopher_rules" -> ((s, d) => {
      graft.operators.Scoring.gopherRules(
          Tables(s, d).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    // salted skew join: documents (hot key: 20 sources for the whole
    // corpus — at 100 TB each source key holds TBs) against a per-source
    // aggregate dim, with the hot key split across 8 tasks by the salt
    // (hash of doc_id). The salt is physical only — the gate proves the
    // result equals the plain join (integer-only above-average compare:
    // zero FP risk).
    "q128_salted_join" -> ((s, d) => {
      val docs = Tables(s, d).documents
        .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("len"))
      val dim = docs.groupBy("source")
        .agg(sum("len").as("tot"), count(lit(1)).as("n"))
      graft.operators.Skew.saltedJoin(docs, dim, Seq("source"), "doc_id",
          factor = 8)
        .select(col("doc_id"), col("source"),
          (col("len") * col("n") > col("tot")).as("above_avg"))
        .orderBy("doc_id")
    }),

    // DoReMi-lite domain mixture weights: per-source excess unigram loss
    // vs the corpus reference, eps-floored and normalized to sampling
    // weights — the mixture-optimization step between curation and
    // training. Integer-lifted sums end to end (order-free).
    "q129_domain_weights" -> ((s, d) => {
      graft.operators.Scoring.domainWeights(
          Tables(s, d).documents, "text", "doc_id", "source")
        .orderBy("source")
    }),

    // corpus-level repeated-8-gram inventory (the Lee et al. 2022
    // duplicated-substring report): every 8-token window in >= 2 distinct
    // docs, with doc and occurrence counts — the threshold-picking
    // diagnostic for span dedup.
    "q130_repeated_ngrams" -> ((s, d) => {
      graft.operators.Dedup.repeatedNgrams(
          docsSpread(s, d), "text", "doc_id", n = 8, minDocs = 2)
        .orderBy("ngram")
    }),

    // span-level decontamination: docs with doc_id % 50 = 0 act as the
    // benchmark split; every 8-token window of a remaining doc that also
    // appears in the benchmark is cut (conservative boundary rule — tokens
    // also covered by a clean window survive). The surgical alternative to
    // q76's whole-doc contamination verdict.
    "q131_span_decontam" -> ((s, d) => {
      val docs = Tables(s, d).documents
      graft.operators.Contamination.decontaminateSpans(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "text", "doc_id", k = 8)
        .orderBy("doc_id")
    }),

    // line-level boilerplate removal (the CCNet/RefinedWeb stage): a line
    // occurring in >= 5 distinct docs is dropped everywhere, order kept.
    // The synthetic corpus is single-line, so both sides first build the
    // same line structure deterministically (the q67 injection pattern):
    // body tokens wrapped every 10 into lines, a banner line prepended to
    // every 3rd doc and a footer appended to every 2nd — the operator must
    // strip exactly the injected boilerplate and keep every body line.
    "q122_line_dedup" -> ((s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val body = array_join(transform(
        sequence(lit(0), floor((size(toks) - 1) / 10).cast("int")),
        i => array_join(slice(toks, i * 10 + 1, lit(10)), " ")), "\n")
      val lined = concat_ws("\n",
        when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter today")),
        body,
        when(col("doc_id") % 2 === 0, lit("all rights reserved example footer")))
      graft.operators.Dedup.dropBoilerplateLines(
          docsSpread(s, d).select(col("doc_id"), lined.as("text")),
          "text", "doc_id", minDocs = 5)
        .orderBy("doc_id")
    }),

    // banned-term scan (Aho-Corasick over UTF-8 bytes, one pass per row
    // regardless of pattern count — the blocklist/NSFW filter stage): total
    // occurrence count across the term list plus the keep/drop verdict.
    // Patterns chosen with no self-overlap so DuckDB's replace-based
    // occurrence count replays the exact number
    "q127_blocklist_scan" -> ((s, d) => {
      val terms = Seq("join", "hash", "spark", "window", "scan")
      val n = graft.functions.NativeExpressions.multiPatternCountNative(col("text"), terms)
      Tables(s, d).documents
        .select(col("doc_id"), n.as("n_matches"), (n === 0).as("kept"))
        .orderBy("doc_id")
    }),

    // Unicode NFC normalization (codegen'd java.text.Normalizer): the
    // corpus is ASCII, so both sides append the same DECOMPOSED suffix
    // (e + U+0301, u + U+0308) — the normalized output must compose it
    // to é/ü, shrinking the codepoint count by exactly 2 per doc
    "q126_nfc_normalize" -> ((s, d) => {
      val dirty = concat(col("text"), lit(" cafe\u0301 u\u0308ber"))
      Tables(s, d).documents.select(col("doc_id"),
          graft.functions.NativeExpressions.nfcNormalizeNative(dirty).as("norm"),
          (length(dirty) - length(
            graft.functions.NativeExpressions.nfcNormalizeNative(dirty)))
            .cast("long").as("n_composed"))
        .orderBy("doc_id")
    }),

    // URL decomposition + blocklist verdict over a synthesized crawl
    // manifest (the corpus has no URL column, so both sides derive the
    // same deterministic URL from source/doc_id — the q67 injection
    // pattern); exercises native parse_url, the registrable-domain
    // heuristic, and suffix blocklist semantics ("example.org" blocks
    // "www.x.example.org", "src3.example.com" blocks its www host)
    "q125_url_curation" -> ((s, d) => {
      val url = concat(lit("https://www."), col("source"), lit(".example."),
        when(col("doc_id") % 2 === 0, "com").otherwise("org"),
        lit("/p/"), col("doc_id"), lit("?ref=crawl"))
      val parts = graft.operators.Web.urlParts(
        Tables(s, d).documents.select(col("doc_id"), url.as("url")), "url")
      parts.select(col("doc_id"), col("host"), col("path"), col("query"),
          col("domain"),
          graft.operators.Web.hostBlocked(col("host"),
            Seq("example.org", "src3.example.com")).as("blocked"))
        .orderBy("doc_id")
    }),

    // duplicate-span REMOVAL (the rewrite counterpart of q103's stats —
    // Lee et al. 2022 semantics at 10-token-window granularity): one copy
    // of every repeated span survives, later occurrences are cut, docs
    // shorter than the window pass through
    "q124_span_dedup" -> ((s, d) => {
      graft.operators.Dedup.removeDuplicateSpans(
          Tables(s, d).documents, "text", "doc_id", k = 10)
        .orderBy("doc_id")
    }),

    // bigram-LM perplexity (context-aware quality signal — the n-gram step
    // toward CCNet's KenLM filter): corpus-fit add-one-smoothed
    // p(tok|prev), per-doc mean -ln p over transitions, integer-summed for
    // engine portability like q101/q102
    "q123_bigram_ppl" -> ((s, d) => {
      graft.operators.Scoring.bigramLogLoss(
          Tables(s, d).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    // deterministic epoch shuffle: global training position as a pure
    // function of (doc_id, salt) via the distributed md5 rank — no
    // single-task sort, no rand() irreproducibility
    "q118_train_order" -> ((s, d) => {
      graft.operators.Sampling.trainOrder(
          Tables(s, d).documents, "doc_id", "epoch0")
        .orderBy("doc_id")
    }),

    // exact stratified 80/10/10 split per language: per-stratum md5 rank
    // (grouped distributed prefix — no stratum in one task) cut at
    // floor(n·cum) thresholds. Exact proportions per stratum, not
    // hash-approximate.
    "q113_stratified_split" -> ((s, d) => {
      graft.operators.Sampling.stratifiedSplit(Tables(s, d).documents,
          "lang", "doc_id", Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
        .orderBy("doc_id")
    }),

    // exact per-source TOKEN budget (1200 tokens/source, id order): the
    // token-weighted quota via the grouped distributed prefix sum.
    "q112_token_quota" -> ((s, d) => {
      graft.operators.Packing.tokenQuota(Tables(s, d).documents,
          "source", "doc_id", TextFunctions.tokenCount(col("text")),
          budget = 1200L)
        .orderBy("doc_id")
    }),

    // BPE tokenization with the learned merges (train + apply): per-doc
    // symbol counts after the 4-merge fuse chain — zero shuffle, merges
    // inlined as literals.
    "q111_bpe_encode" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val merges = graft.operators.Bpe.learnMerges(docs, "text", merges = 4)
        .orderBy("merge_idx")
        .select("left", "right")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      graft.operators.Bpe.encodeStats(docs, "text", "doc_id", merges)
        .orderBy("doc_id")
    }),

    // length-bucketed batch assignment (64-token bands, batches of 8):
    // padding-efficient trainer batches via the distributed per-bucket rank
    // (two-phase prefix, never one task per bucket).
    "q108_length_batches" -> ((s, d) => {
      graft.operators.Packing.lengthBucketBatches(Tables(s, d).documents,
          "doc_id", TextFunctions.tokenCount(col("text")),
          bucketSize = 64, batchSize = 8)
        .orderBy("doc_id")
    }),

    // perplexity-threshold filtering: keep docs at or below the 75th
    // percentile of the corpus-fit unigram nll (the "drop the weirdest
    // quartile" quality step). Exact interpolated percentile, one broadcast
    // scalar — the corpus is never shuffled.
    "q109_ppl_filter" -> ((s, d) => {
      val nll = graft.operators.Scoring.unigramLogLoss(
        Tables(s, d).documents, "text", "doc_id")
      val cut = nll.agg(round(expr("percentile(nll, 0.75)"), 6).as("cut"))
      nll.crossJoin(broadcast(cut)).filter(col("nll") <= col("cut"))
        .select("doc_id", "n_tokens", "nll")
        .orderBy("doc_id")
    }),

    // trainable quality classifier: full-batch-GD logistic regression on
    // (bias, scaled ln length, tokens-per-char) weak-labeled by lang='en';
    // the oracle replays the unrolled GD iterations as CTEs. Features are
    // O(1)-scaled so lr=2 descends instead of saturating.
    "q107_quality_classifier" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val (scored, _) = graft.operators.Scoring.logisticFitScore(
        docs, "doc_id",
        features = Seq(lit(1.0),
          log(col("n_chars").cast("double") + 1.0) / 10.0,
          TextFunctions.tokenCount(col("text")).cast("double") /
            (col("n_chars").cast("double") + 1.0)),
        label = (col("lang") === "en").cast("double"),
        iters = 4, lr = 2.0)
      scored.select(col("id").as("doc_id"), col("y"), col("score"))
        .orderBy("doc_id")
    }),

    // product-quantization ANN with asymmetric distance: per-subspace
    // kmeans codebooks -> byte codes -> per-query ADC lookup tables. The
    // DuckDB oracle unrolls each subspace's kmeans fit exactly like q94,
    // then encodes and scores with the same rounding/tie rules.
    "q97_pq_topk" -> ((s, d) => {
      val emb = Tables(s, d).embeddings
      Similarity.topK(emb.filter(col("vec_id") < 5), Frame(emb), "embedding",
          "vec_id", k = 10, code = Pq())
        .orderBy("query_id", "rank")
    }),

    // mergeable per-batch HLL sketches under the driver's gate. DuckDB
    // cannot reproduce a DataSketches estimate bit-for-bit, so the gated
    // row carries the EXACT distinct count (cross-engine content) plus two
    // deterministic property checks computed Spark-side: the union of
    // per-source sketches tracks the direct whole-data sketch (mergeability
    // — 5%: the union promotes sparse sketches to the dense HLL array, so
    // the merged estimate is approximate even when the direct one is
    // sparse-exact) and the estimate lands within HLL's error envelope of
    // the exact count (5%). The oracle states the exact count and expects
    // both properties to hold.
    "q99_hll_merge" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val perBatch = graft.operators.Sketches.hllSketchPerGroup(docs, "doc_id", Seq("source"))
      val merged = graft.operators.Sketches.hllMergeEstimate(perBatch, Nil)
        .select(col("distinct_est").as("est_merged"))
      val direct = graft.operators.Sketches.hllMergeEstimate(
          graft.operators.Sketches.hllSketchPerGroup(docs, "doc_id", Nil), Nil)
        .select(col("distinct_est").as("est_direct"))
      val exact = docs.agg(countDistinct("doc_id").as("exact_distinct"))
      exact.crossJoin(merged).crossJoin(direct).select(
        col("exact_distinct"),
        (abs(col("est_merged") - col("est_direct")) <=
          greatest(col("est_direct") * 0.05, lit(1.0))).as("merge_tracks_direct"),
        (abs(col("est_merged") - col("exact_distinct")) <=
          greatest(col("exact_distinct") * 0.05, lit(1.0))).as("within_error_bound"))
    }),

    // the STREAMING curation twin under the driver's gate: a real
    // readStream over the documents parquet (deterministic synthetic
    // event-time from doc_id), watermarked fingerprint dedup, memory sink.
    // WHICH duplicate survives is arrival-order dependent on a stream, but
    // the surviving fingerprint SET is not — that set must equal the batch
    // pipeline's, which DuckDB recomputes from the table.
    "q100_stream_curation" -> ((s, d) => {
      val schema = Tables.read(s, s"$d/documents.parquet").schema
      // the file source wants a directory: stream the sf dir, glob-filtered
      // to the documents table
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .withColumn("ts", expr("timestamp_seconds(1704067200 + doc_id % 300)"))
      // project to fp BEFORE the sink: the gate consumes only the
      // fingerprint set, and a memory sink materializes every output column
      // on the driver — shipping the cleaned text there is pure overhead
      // (and the kind that kills a real collect-side consumer at scale)
      // (fewer state partitions was tried and is NOT a win here: 32 stores
      // commit in parallel across the 32 cores; shrinking to 8 serialized
      // the same state file traffic and benched 35% slower)
      val curated = graft.streaming.DocStreams.curateStream(stream, minQuality = 0.2)
        .select("fp")
      graft.streaming.EventStreams.drain(curated, "stream_curation")(
        _.select("fp").distinct().orderBy("fp"))
    }),

    // END-TO-END curation pipeline, composed from the operators above:
    // quality filter → repetition scrub → fingerprint dedup (keep min id) →
    // sequence packing into 1024-token shards. One corpus scan feeds the
    // whole per-row stage; the only shuffles are the dedup groupBy and the
    // prefix-sum of the packing stage.
    "q91_curation_pipeline" -> ((s, d) => {
      val docs = Tables(s, d).documents
      // tokenize ONCE and carry the scrubbed token array: fingerprint and
      // token count derive from it directly (scrubbed tokens contain no
      // whitespace, so re-tokenizing the joined string is provably the
      // identity — the oracle operates on the cleaned string and agrees).
      // The dedup window then shuffles only (doc_id, fp, n_tokens) — the
      // text never moves past the first projection.
      val toks = TextFunctions.tokens(col("text"))
      val kept = TextFunctions.scrubTokens(toks)
      val scrubbed = docs.filter(TextFunctions.qualityScore(col("text")) >= 0.2)
        .select(col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(kept)))).as("fp"),
          size(kept).cast("long").as("n_tokens"))
      // packShards derives two branches (running sums + offsets) from its
      // input, so part of the text stage can re-execute once; measured, the
      // recompute is cheaper than materializing (an eager localCheckpoint of
      // the survivor set benched 30% slower — the extra job + block store
      // cost more than the re-scan saves). A 100 TB pipeline would persist
      // the survivor set to a table between stages anyway.
      val survivors = scrubbed
        .withColumn("keep_id", min("doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy("fp")))
        .filter(col("doc_id") === col("keep_id"))
      graft.operators.Packing.packShards(survivors, "doc_id",
          col("n_tokens"), budget = 1024)
        .orderBy("doc_id")
    }),

    // deterministic ordered string aggregation per group (the listagg /
    // string_agg surface): distinct languages per source, sorted then
    // comma-joined — collect_set order never reaches the result.
    "q155_source_langs" -> ((s, d) => {
      Tables(s, d).documents.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          array_join(array_sort(collect_set(col("lang"))), ",").as("langs"))
        .orderBy("source")
    }),

    // robust-stats cleanup: n_chars winsorized at each source's exact
    // [p05, p95] (broadcast bounds, corpus never shuffled) + equi-count
    // decile within source (SQL-standard ntile over a total order).
    "q156_winsorize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.operators.Scoring.winsorize(
          Tables(s, d).documents, "n_chars", "source", 0.05, 0.95)
        .select(col("doc_id"), col("source"), col("n_chars_w"),
          ntile(10).over(Window.partitionBy("source")
            .orderBy(col("n_chars"), col("doc_id"))).cast("long").as("decile"))
        .orderBy("doc_id")
    }),

    // edit-distance-verified near-dup pairs: blocked on (first token,
    // 40-char-prefix length band), verified with the banded threshold
    // levenshtein — the typo/OCR modality shingle Jaccard misses.
    "q157_edit_near_dup" -> ((s, d) => {
      graft.operators.Dedup.editDistanceNearDup(
          Tables(s, d).documents, "text", "doc_id",
          prefixLen = 40, maxDist = 10)
        .orderBy("a_id", "b_id")
    }),

    // per-doc 3-gram shingle novelty: fraction of the doc's distinct
    // shingles first introduced (min doc_id) by this doc — the
    // "how much of this batch is new" crawl diagnostic.
    "q158_shingle_novelty" -> ((s, d) => {
      graft.operators.Scoring.shingleNovelty(
          Tables(s, d).documents, "text", "doc_id", k = 3)
        .orderBy("doc_id")
    }),

    // mutual k-NN graph over an embedding subset: undirected edges kept
    // iff each endpoint is in the other's top-5 by cosine — the
    // density-based curation graph (hub edges die, genuinely-close pairs
    // survive). Exact baseline; cell-confined at corpus scale.
    "q161_mutual_knn" -> ((s, d) => {
      Similarity.mutualKnn(
          Tables(s, d).embeddings.filter(col("vec_id") < 200),
          "embedding", "vec_id", k = 5)
        .orderBy("a", "b")
    }),

    // per-doc token-distribution Shannon entropy (nats) — the lexical-
    // diversity quality signal; integer-lifted 6-dp log terms so the sum
    // is order-free.
    "q162_token_entropy" -> ((s, d) => {
      graft.operators.Scoring.tokenEntropy(
          Tables(s, d).documents, "text", "doc_id")
        .orderBy("doc_id")
    }),

    // source-pair token-count cosine matrix: magnitude-aware corpus
    // composition report (near-mirror sources score ~1). All-integer dot
    // and norms; per-token join work bounded by C(#sources, 2).
    "q163_source_cosine" -> ((s, d) => {
      graft.operators.Scoring.sourceTokenCosine(
          Tables(s, d).documents, "text", "source")
        .orderBy("src_a", "src_b")
    }),

    // deterministic weighted sampling without replacement (Efraimidis-
    // Spirakis exponential race, md5-derived draws): 10 docs per source,
    // inclusion odds proportional to n_chars.
    "q165_weighted_sample" -> ((s, d) => {
      graft.operators.Sampling.weightedSample(
          Tables(s, d).documents.select("doc_id", "source", "n_chars"),
          "source", "doc_id", col("n_chars"), k = 10)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // asymmetric shingle containment |A∩B|/|A| ≥ 0.6 over discriminative
    // (df ≤ 50) 5-token shingles — the quote/subset relation Jaccard
    // resemblance misses; inverted-index join, per-shingle work ≤ df².
    // docsSpread probed and NOT taken here (r18): 0.96× — the gate's cost
    // is the containment band join, not the scan-stage shingle map.
    "q167_containment" -> ((s, d) => {
      graft.operators.Dedup.shingleContainment(
          Tables(s, d).documents, "text", "doc_id",
          k = 5, threshold = 0.6, maxDf = 50)
        .orderBy("doc_a", "doc_b")
    }),

    // proportional source interleave: global training order where every
    // source advances at a uniform relative rate (all sources finish
    // together) — both ranks via the grouped two-phase distributed prefix,
    // never a single-task sort.
    "q168_interleave" -> ((s, d) => {
      graft.operators.Sampling.interleaveBySource(
          Tables(s, d).documents.select("doc_id", "source"),
          "source", "doc_id")
        .orderBy("doc_id")
    }),

    // per-source Zipf slope of ln(freq) vs ln(rank) — natural text sits
    // near -1; templated/spammy corpora deviate. All five OLS sums are
    // lifted-integer (order-free); the slope is closed-form doubles.
    "q174_zipf_slope" -> ((s, d) => {
      graft.operators.Scoring.zipfSlope(
          Tables(s, d).documents, "text", "source")
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    }),

    // top-20 PMI collocations (count >= 5): the phrase-mining signal for
    // tokenizer vocab extension; transitions built in-row, rank cut on the
    // 4-dp-rounded PMI with (w1, w2) tie-break.
    "q175_pmi_bigrams" -> ((s, d) => {
      graft.operators.Scoring.pmiBigrams(
          docsSpread(s, d), "text", minCount = 5, topK = 20)
        .orderBy("rk")
    }),

    // typed-array surface over the embedding column: in-row fold (L1 norm
    // via aggregate HOF — a sequential left fold, same order both engines)
    // + the top-3 |value| dimensions via posexplode + ranked window.
    "q177_array_hofs" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, d).embeddings.filter(col("vec_id") < 100)
      val w = Window.partitionBy("vec_id")
        .orderBy(col("a").desc, col("pos").asc)
      e.select(col("vec_id"),
          round(expr("aggregate(embedding, 0D, (acc, x) -> acc + abs(x))"), 4)
            .as("l1"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("l1"), col("pos").cast("long").as("pos"),
          // widen BEFORE round: round(float) stays float and 6-dp values
          // differ from the double-rounded oracle
          round(abs(col("x").cast("double")), 6).as("a"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("vec_id"), col("rk").cast("long").as("rk"),
          col("pos"), col("a"), col("l1"))
        .orderBy("vec_id", "rk")
    }),

    // IVF recall CERTIFIED under the driver gate (the q99 boolean
    // pattern): brute-force top-10 is the exact, replayable side; the
    // IVF probe's overlap with it must clear the recall floor. Sketch-like
    // structures aren't bit-replayable — their quality envelopes are.
    "q184_ivf_recall" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      val q = e.filter(col("vec_id") < 5)
      val exact = Similarity.topK(q, Frame(e), "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("vec_id"))
      // probes scale with the measured cell count (≥ 40% of cells, min 3 —
      // the q188/q198 rule): the r13 full-sf0.1 sweep caught the raw
      // probes = 3 form decaying to 2-4/10 overlap at sf0.1, where 3 of 20
      // cells is 15% of the corpus vs 60% at sf0.01 — the exact fixed-probe
      // decay the mass-adaptive forms (q231/q238) exist to avoid
      val ivf = Similarity.topK(q, Frame(e), "embedding", "vec_id",
          k = 10, Ivf(centroidMod = 100, probes = probesFor(e, 0.4)))
        .select(col("query_id"), col("vec_id"))
      exact.join(ivf, Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("overlap"))
        // floor measured ≥ 6/10 at every shipped SF under the rule; the
        // certified bar keeps one result of slack against data regeneration
        .select(col("query_id"), (col("overlap") >= 5).as("recall_ok"))
        .orderBy("query_id")
    }),

    // IVF-cell-confined mutual k-NN CERTIFIED against the exact graph
    // (the q184 envelope pattern): the exact edge count is the replayable
    // side; the confined graph must recover the floor fraction of exact
    // edges. Observed recall ≥ 0.89 at every shipped SF with 4 cells /
    // 2 probes; 0.75 keeps slack against data regeneration.
    "q185_mutual_knn_ivf" -> ((s, d) => {
      val e = Tables(s, d).embeddings.filter(col("vec_id") < 200)
      val exact = Similarity.mutualKnn(e, "embedding", "vec_id", k = 5)
        .select("a", "b")
      val conf = Similarity.mutualKnnIvf(e, "embedding", "vec_id", k = 5,
          centroidMod = 50, probes = 2)
        .select("a", "b")
      val hit = exact.join(conf, Seq("a", "b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      exact.agg(count(lit(1)).as("n_exact")).crossJoin(hit)
        .select(col("n_exact"),
          (col("n_hit") >= col("n_exact") * 0.75).as("recall_ok"))
    }),

    // the persisted-IVF-index path of q184: the corpus-side assignment is
    // written to a cent_id-partitioned parquet store once, queries probe
    // the stored cells with the corpus never rescanned — and the round
    // trip must be INVISIBLE (bit-identical to the direct form), the
    // q119 store-dedup contract. Joining direct and stored results on all
    // four columns: any cos/rank divergence drops a row and store_ok or
    // n_rows breaks against the oracle. Since r14 BOTH arms run the
    // mass-adaptive probing rule (IvfMass), so this gate pins the
    // round-trip contract of the route a long-lived store should take
    // (fixed-probe Ivf is spec-covered).
    "q187_ivf_index_roundtrip" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      val q = e.filter(col("vec_id") < 5)
      GateTmp.within("graft_ivfidx") { dir =>
        Similarity.buildIvfIndex(e, "embedding", "vec_id", dir.toString,
          centroidMod = 100)
        val direct = Similarity.topK(q, Frame(e), "embedding", "vec_id",
          k = 10, IvfMass(centroidMod = 100))
        val stored = Similarity.topK(q, IvfStore(dir.toString), "embedding",
          "vec_id", k = 10, IvfMass(centroidMod = 100))
        // pinned eagerly so the finally-delete below cannot outrun the
        // lazy store read (the q119 pattern)
        direct.join(stored, Seq("query_id", "vec_id", "cos", "rank"))
          .groupBy("query_id").agg(count(lit(1)).as("n_rows"))
          .select(col("query_id"), col("n_rows"),
            (col("n_rows") === 10).as("store_ok"))
          .orderBy("query_id")
          .localCheckpoint(true)
      }
    }),

    // INCREMENTAL index maintenance (r14): the rolling-crawl shape — an
    // IVF index is built over two-thirds of the corpus, the remaining
    // third arrives as a crawl delta and is APPENDED (assigned to the
    // FROZEN stored centroids, only the receiving cell dirs written; the
    // stored corpus never rescanned). The delta deliberately contains
    // mod-aligned ids, which must NOT become centroids (the _centroids
    // sidecar freezes the geometry). Gated facts: every query recovers
    // k rows through the appended store via the mass-adaptive route
    // (store_ok), and append_ok pins the store content — total rows =
    // corpus rows, every appended row landed in a frozen cell, no
    // phantom centroid appeared.
    "q241_ivf_index_append" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      val h1 = e.filter(col("vec_id") % 3 =!= 0)
      val h2 = e.filter(col("vec_id") % 3 === 0)
      val q = e.filter(col("vec_id") < 5)
      GateTmp.within("graft_ivfapp") { dir =>
        Similarity.buildIvfIndex(h1, "embedding", "vec_id", dir.toString,
          centroidMod = 100)
        Similarity.appendIvfIndex(s, dir.toString, h2, "embedding", "vec_id")
        val idx = Tables.read(s, dir.toString)
        val frozen = Tables.read(s, s"$dir/_centroids")
          .select(col("cent_id").as("fc"))
        val stat = idx.agg(count(lit(1)).as("n_idx"),
          sum(when(col("vec_id") % 3 === 0, 1L).otherwise(0L)).as("n_app"))
        val totals = e.agg(count(lit(1)).as("n_corpus"),
          sum(when(col("vec_id") % 3 === 0, 1L).otherwise(0L)).as("n_delta"))
        val badCell = idx.join(frozen, idx("cent_id") === frozen("fc"),
          "left_anti").agg(count(lit(1)).as("n_bad"))
        val phantom = frozen.filter(col("fc") % 3 === 0)
          .agg(count(lit(1)).as("n_phantom"))
        val ok = stat.crossJoin(totals).crossJoin(badCell).crossJoin(phantom)
          .select((col("n_idx") === col("n_corpus") &&
            col("n_app") === col("n_delta") &&
            col("n_bad") === 0 && col("n_phantom") === 0).as("append_ok"))
        val topk = Similarity.topK(q, IvfStore(dir.toString), "embedding",
          "vec_id", k = 10, IvfMass(centroidMod = 100))
        // pinned eagerly so the finally-delete cannot outrun the lazy
        // store read (the q119/q187 pattern)
        topk.groupBy("query_id").agg(count(lit(1)).as("n_rows"))
          .select(col("query_id"), col("n_rows"),
            (col("n_rows") === 10).as("store_ok"))
          .crossJoin(ok)
          .orderBy("query_id")
          .localCheckpoint(true)
      }
    }),

    // the IVF lifecycle's missing half (r16): append freezes the centroid
    // geometry — correct BETWEEN rebuilds — so something must measure
    // recall decay as drifted appends accumulate and trigger the rebuild.
    // Deterministic fixed-size construction (same at every SF): 8 tight
    // unit-vector clusters in the x-y plane, one frozen centroid each
    // (mod 25), then a 50-vector cluster appended at 45° — BETWEEN the
    // 40° and 50° frozen centroids, so its vectors split across two cells
    // and a 10%-mass probe sees only half the true neighbors. Gated
    // facts: healthy recall ≥ 0.9 before the append; the watchdog reads
    // ≤ 0.7 on drifted queries and triggers the rebuild; the rebuild
    // re-derives centroids (one lands inside the drifted cluster),
    // restores recall ≥ 0.9, and conserves all 250 rows through the
    // staged directory swap.
    "q242_ivf_drift_rebuild" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      def unitVec(thetaDeg: org.apache.spark.sql.Column) = {
        val r = radians(thetaDeg)
        array(cos(r).cast("float"), sin(r).cast("float"), lit(0.0f))
      }
      val base = e.filter(col("vec_id") < 200)
        .select(col("vec_id"),
          unitVec((col("vec_id") / lit(25)).cast("long") * 10.0 +
            (col("vec_id") % 25 - 12) * 0.02).as("embedding"))
      val drifted = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000L).as("vec_id"),
          unitVec(lit(45.0) +
            when(col("vec_id") % 2 === 0, 1.0).otherwise(-1.0) *
              (lit(2.0) + (col("vec_id") % 3).cast("double"))).as("embedding"))
      val baseQ = e.filter(col("vec_id") < 8)
        .select(col("vec_id"), unitVec(col("vec_id") * 10.0).as("embedding"))
      val driftQ = e.filter(col("vec_id") < 3)
        .select(col("vec_id"),
          unitVec(lit(44.8) + col("vec_id") * 0.2).as("embedding"))
      GateTmp.within("graft_ivfdrift") { dir =>
        Similarity.buildIvfIndex(base, "embedding", "vec_id", dir.toString,
          centroidMod = 25)
        val r0 = Similarity.ivfRecallCheck(s, dir.toString, baseQ,
          "embedding", "vec_id", k = 10, massFrac = 0.1)
        Similarity.appendIvfIndex(s, dir.toString, drifted,
          "embedding", "vec_id")
        val (r1, rebuilt) = Similarity.rebuildIfDrifted(s, dir.toString,
          driftQ, "embedding", "vec_id", minRecall = 0.8, k = 10,
          massFrac = 0.1)
        val r2 = Similarity.ivfRecallCheck(s, dir.toString, driftQ,
          "embedding", "vec_id", k = 10, massFrac = 0.1)
        val nIdx = Tables.read(s, dir.toString).count()
        val recentered = Tables.read(s, s"$dir/_centroids")
          .filter(col("cent_id") >= 1000L).count() > 0
        import s.implicits._
        Seq((nIdx, r0 >= 0.9, r1 <= 0.7 && rebuilt, recentered, r2 >= 0.9))
          .toDF("n_idx", "healthy_ok", "drift_detected", "recentered",
            "rebuild_restored")
      }
    }),

    // IVF-PQ composite ANN under the envelope gate: the coarse-quantizer
    // pruning loss is measured against the UNPRUNED PQ ranking (the PQ-vs-
    // exact envelope is q97's gate; this one certifies what the cell
    // confinement costs on top). Probes scale with the measured centroid
    // count (≥ 1/8 of cells, min 3 — the q198 rule: a fixed probe count
    // shrinks the probed fraction as the corpus grows and would breach
    // the floor at a larger SF with a healthy implementation). Observed
    // overlap ≥ 26/50 at every shipped SF; the 12/50 floor keeps 2×
    // slack against data regeneration.
    "q188_ivfpq_envelope" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      val q = e.filter(col("vec_id") < 5)
      val probes = probesFor(e, 1.0 / 8)
      val pq = Similarity.topK(q, Frame(e), "embedding", "vec_id", k = 10,
          code = Pq())
        .select("query_id", "vec_id")
      val comp = Similarity.topK(q, Frame(e), "embedding", "vec_id", k = 10,
          Ivf(centroidMod = 100, probes = probes), Pq())
        .select("query_id", "vec_id")
      val hit = pq.join(comp, Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("n_hit"))
      q.agg(count(lit(1)).as("n_queries")).crossJoin(hit)
        .select(col("n_queries"),
          (col("n_hit") >= 12).as("ivfpq_envelope_ok"))
    }),

    // canonical-URL dedup: crawl re-fetch variants of one page (scheme/
    // host case, www, default port, trailing slash, fragment, tracking
    // params, param order) collapse to one keeper; genuinely different
    // params do NOT collapse. Groups of 4 doc_ids share one page, each
    // arriving with different mess; doc_id % 4 == 0 carries a REAL param
    // so exactly it survives separately.
    "q189_url_dedup" -> ((s, d) => {
      val base = (col("doc_id") / 4).cast("long")
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("https://www."), col("source"),
            lit(".example.com:443/p/"), base, lit("/?utm_source=x&page=2#f")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("HTTPS://"), upper(col("source")),
            lit(".EXAMPLE.COM/p/"), base, lit("/")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://"), col("source"),
            lit(".example.com/p/"), base, lit("?ref=crawl")))
        .otherwise(
          concat(lit("https://"), col("source"),
            lit(".example.com/p/"), base))
      graft.operators.Web.urlDedup(
          Tables(s, d).documents.select(col("doc_id"), url.as("url")),
          "url", "doc_id")
        .orderBy("doc_id")
    }),

    // UNIMAX (Chung et al. 2023) epoch-budget allocation over languages:
    // budget 1.5× the corpus at a 2-epoch cap — every tail language caps
    // at 2 epochs and the freed budget leaves the head (en) UNDER one
    // epoch, the fairness inversion temperature sampling can't produce.
    "q190_unimax_alloc" -> ((s, d) => {
      graft.operators.Sampling.unimaxAllocation(Tables(s, d).documents,
          "lang", col("n_chars"), budgetFactor = 1.5, epochCap = 2.0)
        .orderBy("lang")
    }),

    // the allocation materialized per document: ⌊e⌋ repeats plus a
    // deterministic md5-selected frac(e) share taking one more — the
    // reproducible training-mix table the packing stages consume.
    "q191_unimax_epochs" -> ((s, d) => {
      graft.operators.Sampling.unimaxEpochs(Tables(s, d).documents,
          "lang", "doc_id", col("n_chars"), budgetFactor = 1.5, epochCap = 2.0)
        .orderBy("doc_id")
    }),

    // asymmetric SQ8 ANN: candidates scalar-quantized to 1 byte/dim
    // against per-dimension corpus [min,max], queries full precision;
    // scoring on the dequantized reconstruction makes the entire chain —
    // codes included — replayable by the oracle (full hash match, not an
    // envelope).
    "q192_sq8_topk" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      Similarity.topK(e.filter(col("vec_id") < 5), Frame(e),
          "embedding", "vec_id", k = 10, code = Sq8)
        .orderBy("query_id", "rank")
    }),

    // Matryoshka-style funnel: coarse cosine over the first 8 of 64 dims
    // shortlists 50 per query, exact full-dim rerank returns the top 10 —
    // both stages deterministic, so the funnel replays exactly in DuckDB.
    "q193_trunc_rerank" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      Similarity.topK(e.filter(col("vec_id") < 5), Frame(e),
          "embedding", "vec_id", k = 10, Prefix(dims = 8, shortlist = 50))
        .select(col("query_id"), col("vec_id"), col("rank").as("rk"), col("cos"))
        .orderBy("query_id", "rk")
    }),

    // crawl-over-crawl token drift: even/odd doc_ids as two snapshots,
    // add-one-smoothed unigram dists over the union vocabulary, top-20
    // movers by |p_a − p_b| with per-token JSD contributions.
    "q194_token_drift" -> ((s, d) => {
      val docs = Tables(s, d).documents
      graft.operators.Scoring.tokenDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "text", topN = 20)
        .orderBy("rk")
    }),

    // the byte-budget broadcast guard under the hard gate: same ranking as
    // q58, but with the small-input cap (graft.Small.withCap) at 0 so the query side
    // CANNOT be broadcast — budgetedCross must take the shuffle-replicated
    // nested-loop route, and the route actually taken is emitted as a
    // column so a silent fall-back to broadcast hash-mismatches the
    // oracle's 'shuffle' literal (the q186 pattern).
    "q200_ann_shuffle_route" -> ((s, d) => {
      graft.Small.withCap(s, 0) {
        val e = Tables(s, d).embeddings
        // routing happens eagerly inside budgetedCross (the side is
        // sized at plan build), so the trace holds the route on return
        val (top, trace) = QueryTrace.run(s)(Similarity.topK(
          e.filter(col("vec_id") < 5), Frame(e), "embedding", "vec_id", k = 10))
        val route = trace.get("sim.route").getOrElse("unset")
        top.withColumn("route", lit(route)).orderBy("query_id", "rank")
      }
    }),

    // the UNIMAX pipeline end-to-end: allocation → per-doc epochs →
    // epoch-expanded (doc, rep) instances → one global md5-shuffled
    // training order — the input table a trainer actually consumes.
    "q199_unimax_train_order" -> ((s, d) => {
      graft.operators.Sampling.unimaxTrainOrder(Tables(s, d).documents,
          "lang", "doc_id", col("n_chars"), budgetFactor = 1.5,
          epochCap = 2.0, salt = "epoch0")
        .orderBy("pos")
    }),

    // persisted SQ8 index round-trip: build stats+codes store, query from
    // it, and hash-match the result against the SAME fully-replayed
    // oracle as q192 — the store round-trip is provably invisible.
    "q197_sq8_index_roundtrip" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      GateTmp.within("graft_sq8idx") { dir =>
        graft.operators.Similarity.buildSq8Index(e, "embedding", "vec_id",
          dir.toString)
        // pinned eagerly so the finally-delete cannot outrun the lazy
        // store read (the q119/q187 pattern)
        Similarity.topK(e.filter(col("vec_id") < 5), Sq8Store(dir.toString),
            "embedding", "vec_id", k = 10, code = Sq8)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    }),

    // IVF+SQ8 composite (the FAISS IVFx,SQ8 shape) under the envelope
    // gate: the coarse-quantizer pruning loss is measured against the
    // UNPRUNED SQ8 ranking (q192 is the replayed SQ8-vs-exact side; this
    // certifies what cell confinement costs on top). The probe count
    // SCALES with the measured centroid count (≥ 1/8 of cells probed,
    // min 3) instead of a constant: with probes fixed, the probed
    // fraction — and the measured overlap (42/40/23 of 50 at
    // sf0.001/0.01/0.1 with 3 probes) — shrinks as the corpus grows its
    // centroid subset, and a larger shipped SF would breach a fixed floor
    // with a healthy implementation. The 12/50 floor keeps ~2× slack
    // under the pinned fraction at any SF.
    "q198_ivfsq8_envelope" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      val q = e.filter(col("vec_id") < 5)
      val probes = probesFor(e, 1.0 / 8)
      val sq = Similarity.topK(q, Frame(e), "embedding", "vec_id", k = 10,
          code = Sq8)
        .select("query_id", "vec_id")
      val comp = Similarity.topK(q, Frame(e), "embedding", "vec_id", k = 10,
          Ivf(centroidMod = 100, probes = probes), Sq8)
        .select("query_id", "vec_id")
      val hit = sq.join(comp, Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("n_hit"))
      q.agg(count(lit(1)).as("n_queries")).crossJoin(hit)
        .select(col("n_queries"),
          (col("n_hit") >= 12).as("ivfsq8_envelope_ok"))
    }),

    // the MASS-ADAPTIVE probing envelope (the q198 comparison with probes
    // chosen by the rule, not a count): each query probes its nearest
    // cells until 25% of the corpus mass is covered, so the scanned
    // fraction — and the overlap floor — holds at EVERY SF where q198's
    // fixed-count form decayed (42/40/23 of 50 across sf0.001/0.01/0.1).
    // Measured here: 38/36/30 of 50 — scale-stable; the 25/50 floor is the
    // ≥ 50% bar with 1.2× slack at the largest shipped SF.
    "q231_ivfsq8_adaptive" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      val q = e.filter(col("vec_id") < 5)
      val sq = Similarity.topK(q, Frame(e), "embedding", "vec_id", k = 10,
          code = Sq8)
        .select("query_id", "vec_id")
      val comp = Similarity.topK(q, Frame(e), "embedding", "vec_id", k = 10,
          IvfMass(centroidMod = 100, massFrac = 0.25), Sq8)
        .select("query_id", "vec_id")
      val hit = sq.join(comp, Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("n_hit"))
      q.agg(count(lit(1)).as("n_queries")).crossJoin(hit)
        .select(col("n_queries"),
          (col("n_hit") >= 25).as("adaptive_envelope_ok"))
    }),

    // mass-adaptive probing on the PERSISTED index (the q231 rule moved to
    // the store path, per the round-12 directive): the corpus-side
    // assignment is built ONCE (buildIvfIndex), per-cell sizes are read
    // from the stored cent_id column (never recomputed by scoring), and
    // the probe count is CHOSEN BY THE 25%-mass rule per query. Overlap is
    // certified against the EXACT brute-force ranking — a harder bar than
    // q231's sq8 comparison. Observed 38/36/30 of 50 across
    // sf0.001/0.01/0.1; the 25/50 floor is the ≥ 50% bar, met with slack
    // at the largest shipped SF.
    "q238_ivf_index_adaptive" -> ((s, d) => {
      val e = Tables(s, d).embeddings
      val q = e.filter(col("vec_id") < 5)
      GateTmp.within("graft_ivfidx_ad") { dir =>
        Similarity.buildIvfIndex(e, "embedding", "vec_id", dir.toString,
          centroidMod = 100)
        val exact = Similarity.topK(q, Frame(e), "embedding", "vec_id", k = 10)
          .select("query_id", "vec_id")
        val stored = Similarity.topK(q, IvfStore(dir.toString), "embedding",
            "vec_id", k = 10, IvfMass(centroidMod = 100, massFrac = 0.25))
          .select("query_id", "vec_id")
        val hit = exact.join(stored, Seq("query_id", "vec_id"))
          .agg(count(lit(1)).as("n_hit"))
        // pinned eagerly so the finally-delete cannot outrun the lazy
        // store read (the q187 pattern)
        q.agg(count(lit(1)).as("n_queries")).crossJoin(hit)
          .select(col("n_queries"),
            (col("n_hit") >= 25).as("index_adaptive_ok"))
          .localCheckpoint(true)
      }
    }),

    // cross-source near-dup attribution: the q55 verified pairs rolled up
    // to an unordered source-pair matrix (count + fixed-point mean
    // jaccard) — the licensing/mirror diagnostic before dropping content.
    "q195_source_attribution" -> ((s, d) => {
      Dedup.nearDupSourceAttribution(Tables(s, d).documents, "text",
          "doc_id", "source", threshold = 0.3, portableIds = true)
        .orderBy("src_a", "src_b")
    }),

    // rank-normalized quality blend: char-length and token-count
    // percentiles (distributed two-phase ranks, ties broken by id)
    // averaged into one scale-free composite.
    "q196_rank_blend" -> ((s, d) => {
      graft.operators.Scoring.rankBlend(Tables(s, d).documents, "doc_id",
          Seq("chars" -> col("n_chars"),
            "toks" -> TextFunctions.tokenCount(col("text"))))
        .orderBy("doc_id")
    }),

    // regexp surface (patterns inside the Java-regex ∩ RE2 subset, q137's
    // rule): count, first-match extract, replace-all.
    "q179_regexp" -> ((s, d) => {
      Tables(s, d).documents.select(col("doc_id"),
          expr("regexp_count(text, '[aeiou]{2,}')").cast("long").as("n_vv"),
          regexp_extract(col("text"), "[a-z]{6,}", 0).as("first_long"),
          regexp_replace(col("text"), "[aeiou]", "_").as("devoweled"))
        .orderBy("doc_id")
    }),

    // maximal cross-doc duplicated spans via strided suffix sort (the Lee
    // et al. suffix-array flavor): span length DISCOVERED in (5, 8] off
    // adjacent sorted suffixes, not re-grouped per length; hot seeds
    // capped at 50 suffixes before the sort.
    "q201_suffix_dup" -> ((s, d) => {
      Dedup.maximalDupSpans(docsSpread(s, d), "text", "doc_id",
          stride = 4, minLen = 5, maxLen = 8, maxBucket = 50, topN = 20)
        .orderBy("rk")
    }),

    // writing-system profile + homoglyph spoofing: doc_id%3==1 gets its
    // a/e/o/p/c/x/y swapped for Cyrillic confusables (in-word mixing —
    // the spoof shape), %3==2 gets appended Greek tokens (across-word
    // code-switching — benign), %3==0 stays pure Latin.
    "q202_script_mix" -> ((s, d) => {
      val mutated = Tables(s, d).documents.withColumn("text",
        when(col("doc_id") % 3 === 1,
          translate(col("text"), "aeopcxy", "аеорсху"))
          .when(col("doc_id") % 3 === 2,
            concat(col("text"), lit(" αλφα βητα 42")))
          .otherwise(col("text")))
      graft.operators.Scoring.scriptProfile(mutated, "text", "doc_id")
        .orderBy("doc_id")
    }),

    // DoReMi-flavored hardness-tilted domain mixture: sources whose docs
    // the corpus-fit unigram LM finds harder than average get up-weighted
    // by a clipped exponential-weights step; weights renormalized in
    // micro-units.
    "q203_domain_tilt" -> ((s, d) => {
      graft.operators.Sampling.hardnessTiltedWeights(Tables(s, d).documents,
          "source", "text", "doc_id", eta = 1.0, clipLo = 0.5, clipHi = 2.0)
        .orderBy("domain")
    }),

    // tokenizer fertility per language under the corpus-learned 4-merge
    // BPE: symbols/word and chars/symbol per lang — the merge-budget
    // fairness table (q110's training + q111's encode, rolled up).
    "q204_fertility" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val merges = graft.operators.Bpe.learnMerges(docs, "text", merges = 4)
        .orderBy("merge_idx").select("left", "right")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      graft.operators.Bpe.fertilityByGroup(docs, "text", "doc_id", "lang",
          merges)
        .orderBy("group")
    }),

    // streaming SimHash near-dup suppression (the fuzzy twin of q100's
    // exact-fingerprint dedup): real readStream → stateless signature →
    // signature-keyed watermarked dedup state. The gate consumes the
    // DISTINCT signature set (arrival order within a micro-batch is not
    // deterministic; the set is — the q100 rule).
    "q205_stream_near_dedup" -> ((s, d) => {
      val schema = Tables.read(s, s"$d/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .withColumn("ts", expr("timestamp_seconds(1704067200 + doc_id % 300)"))
      val deduped = graft.streaming.DocStreams.simhashDedupStream(stream)
        .select("simhash")
      graft.streaming.EventStreams.drain(deduped, "stream_near_dedup",
        statePartitions = Some(4))(_.select("simhash").distinct().orderBy("simhash"))
    }),

    // cluster-outlier pruning (the LAION/DataComp far-from-centroid noise
    // filter, the mirror of q104's nearest-pair SemDeDup): per-point 9-dp
    // L2² to its final centroid, standardized against within-cluster
    // moments from exact nano-unit integer sums, z > 2 flagged.
    "q206_cluster_outliers" -> ((s, d) => {
      graft.operators.Clustering.clusterOutliers(Tables(s, d).embeddings,
          "embedding", "vec_id", k = 8, iters = 3, zCut = 2.0)
        .orderBy("vec_id")
    }),

    // rendezvous (highest-random-weight) sharding: argmax md5(key:s) over
    // shard candidates; growing 8 -> 9 shards must move ONLY keys won by
    // the new shard (the consistent-hashing property mod-hashing lacks).
    "q207_rendezvous_shards" -> ((s, d) => {
      Tables(s, d).documents.select(col("doc_id"),
          graft.operators.Layout.rendezvousShard(col("doc_id"), 8).as("shard8"),
          graft.operators.Layout.rendezvousShard(col("doc_id"), 9).as("shard9"))
        .withColumn("moved", col("shard8") =!= col("shard9"))
        .orderBy("doc_id")
    }),

    // leakage-free split: the q69 hash split with the train side
    // decontaminated against the holdout side — any train doc sharing a
    // 3-token shingle (by portable hash, never strings) with any holdout
    // doc is flagged leaky and excluded from kept_train.
    "q208_leakfree_split" -> ((s, d) => {
      graft.operators.Sampling.leakFreeSplit(Tables(s, d).documents,
          "text", "doc_id", trainBuckets = 205, k = 3)
        .orderBy("doc_id")
    }),

    // distinct-trigram diversity per source (the distinct-n metric):
    // cross-document repetition that per-doc scores miss; n-grams reduce
    // to 8-byte hashes before any exchange.
    "q209_distinct_ngrams" -> ((s, d) => {
      graft.operators.Scoring.distinctNgramRatio(docsSpread(s, d),
          "text", "source", n = 3)
        .orderBy("group")
    })
  )

  /** q79's fixed query terms (present in the synthetic corpus vocabulary). */
  val Bm25Terms: Seq[String] = Seq("join", "hash", "spark")

  /* ---------- oracles ---------- */

  private val cosSql = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE)))"
    // `+ 0.0` canonicalizes DuckDB's signed zero: a tiny negative cosine
    // rounds to -0.0 there but +0.0 in Spark, and the driver hashes bits.
    s"round(${dot("qv", "cv")} / (sqrt(${dot("qv", "qv")}) * sqrt(${dot("cv", "cv")})), 6) + 0.0"
  }

  private def bucketSqlFor(c: String): String = (0 until 8).map { j =>
    s"(CASE WHEN $c[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  /** q58's exact-cosine top-k chain ending at
    * `ranked(query_id, vec_id, cos, rank)` — shared with q200 (the
    * shuffle-route pin, whose ranking must be identical).
    */
  private lazy val annTopKCtes: String =
    s"""q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |scored AS (SELECT q.query_id, e.vec_id, $cosSql AS cos
       |  FROM (SELECT vec_id, embedding AS cv FROM embeddings) e CROSS JOIN q),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
       |  FROM scored)""".stripMargin

  /** The full SQ8 chain replayed — per-dim [min,max] calibration, half-up-
    * floor codes, dequantized reconstruction, then exactly the q58
    * ranking. NOT an envelope; shared by q192 (direct) and q197 (the
    * persisted-index round-trip, which must be bit-identical).
    */
  private lazy val sq8TopKSql: String =
    s"""WITH st AS (SELECT CAST(u.i AS INT) AS pos,
       |    min(CAST(e.embedding[CAST(u.i AS INT)] AS DOUBLE)) AS mn,
       |    max(CAST(e.embedding[CAST(u.i AS INT)] AS DOUBLE)) AS mx
       |  FROM embeddings e CROSS JOIN unnest(range(1, 65)) AS u(i)
       |  GROUP BY u.i),
       |ar AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM st),
       |dq AS (SELECT e.vec_id, list_transform(range(1, 65), i ->
       |      mns[CAST(i AS INT)] + floor((CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - mns[CAST(i AS INT)]) * 255.0
       |        / greatest(mxs[CAST(i AS INT)] - mns[CAST(i AS INT)], 1e-12) + 0.5)
       |        * (mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]) / 255.0) AS cv
       |  FROM embeddings e CROSS JOIN ar),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |pr AS (SELECT q.query_id, dq.vec_id, q.qv, dq.cv FROM dq CROSS JOIN q),
       |scored AS (SELECT query_id, vec_id, $cosSql AS cos FROM pr),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** The q55 MinHash+LSH+exact-verify pair chain (threshold 0.3, portable
    * ids), ending at `mhp(doc1, doc2, jaccard)` — shared with the q195
    * cross-source attribution oracle.
    */
  private lazy val minhashPairsSql: String = {
    val bandConds = (0 until 2).map { b =>
      (0 until 4).map(j => s"s1.sig_${4 * b + j} = s2.sig_${4 * b + j}").mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"""$shingleTidsSql,
       |sigs AS (SELECT doc_id, tids, $sigExprsSql FROM t),
       |cand AS (SELECT s1.doc_id AS doc1, s2.doc_id AS doc2,
       |   s1.tids AS tids1, s2.tids AS tids2
       |  FROM sigs s1 JOIN sigs s2 ON s1.doc_id < s2.doc_id AND ($bandConds)),
       |j AS (SELECT doc1, doc2,
       |  round(len(list_intersect(tids1, tids2))::DOUBLE /
       |        (len(tids1) + len(tids2) - len(list_intersect(tids1, tids2))), 6) AS jaccard
       |  FROM cand),
       |mhp AS (SELECT doc1, doc2, jaccard FROM j WHERE jaccard >= 0.3)""".stripMargin
  }

  /** UNIMAX closed-form allocation replay (budgetFactor 1.5, epochCap 2.0,
    * weight n_chars) — the Sampling.unimaxAllocation window chain verbatim,
    * ending at `aa(lang, n_w, capped, b_w)`. Shared by q190, q191, q199.
    */
  private lazy val unimaxAllocCtes: String =
    """c AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_w FROM documents GROUP BY lang),
      |tt AS (SELECT CAST(count(*) AS INT) AS l_n, CAST(sum(n_w) AS DOUBLE) AS tot_w FROM c),
      |rr AS (SELECT c.lang, c.n_w, tt.l_n, 1.5 * tt.tot_w AS b_total,
      |    CAST(row_number() OVER (ORDER BY c.n_w ASC, c.lang ASC) AS INT) AS i,
      |    coalesce(sum(CAST(c.n_w AS DOUBLE) * 2.0) OVER (ORDER BY c.n_w ASC, c.lang ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS s_prev
      |  FROM c CROSS JOIN tt),
      |ff AS (SELECT *, (2.0 * n_w * (l_n - i + 1) <= b_total - s_prev) AS capped FROM rr),
      |gg AS (SELECT coalesce(max(CASE WHEN capped THEN i END), 0) AS t_rk,
      |    coalesce(sum(CASE WHEN capped THEN CAST(n_w AS DOUBLE) * 2.0 END), 0.0) AS s_t FROM ff),
      |aa AS (SELECT ff.lang, ff.n_w, ff.capped,
      |    CASE WHEN ff.capped THEN 2.0 * ff.n_w
      |      ELSE (ff.b_total - gg.s_t) / (ff.l_n - gg.t_rk) END AS b_w
      |  FROM ff CROSS JOIN gg)""".stripMargin

  /** [[unimaxAllocCtes]] extended to per-doc epoch materialization:
    * `ne(doc_id, lang, n_epochs)` — ⌊e⌋ + the md5-selected frac(e) extra.
    * Shared by q191 and q199.
    */
  /** The unrolled 4-round BPE train chain (q110's winners t1..t4) plus the
    * per-doc apply, ending at `agg(doc_id, n_words, n_chars, n_bpe)` — one
    * definition shared by the q111 per-doc encode and the q204 fertility
    * rollup, so the two oracles cannot drift.
    */
  private lazy val bpeEncodeAggCtes: String = {
    val toksOf = s"string_split(substr(s, 2, length(s) - 2), chr(3)||chr(2))"
    def roundCtes(m: Int): String =
      s"""p$m AS (SELECT t[CAST(u.i AS INT)] AS l, t[CAST(u.i AS INT) + 1] AS r, CAST(sum(wc) AS BIGINT) AS n
         |  FROM (SELECT wc, $toksOf AS t FROM s${m - 1}),
         |    unnest(range(1, len(t))) AS u(i)
         |  GROUP BY 1, 2),
         |t$m AS (SELECT l, r, n FROM (
         |    SELECT l, r, n, 0 AS pri FROM p$m
         |    UNION ALL SELECT '', '', 0, 1) ORDER BY pri, n DESC, l, r LIMIT 1),
         |s$m AS (SELECT wc,
         |    replace(s, chr(2)||t.l||chr(3)||chr(2)||t.r||chr(3), chr(2)||t.l||t.r||chr(3)) AS s
         |  FROM s${m - 1} CROSS JOIN t$m t)""".stripMargin
    val applied = (1 to 4).foldLeft("e.s") { (acc, m) =>
      s"replace($acc, chr(2)||t$m.l||chr(3)||chr(2)||t$m.r||chr(3), chr(2)||t$m.l||t$m.r||chr(3))"
    }
    s"""words AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest($duckTokens) AS tok FROM documents) WHERE length(tok) > 0 GROUP BY tok),
       |s0 AS (SELECT wc, array_to_string(list_transform(range(1, length(w) + 1),
       |    i -> chr(2)||substr(w, CAST(i AS INT), 1)||chr(3)), '') AS s FROM words),
       |${(1 to 4).map(roundCtes).mkString(",\n")},
       |wd AS (SELECT doc_id, tok AS w FROM (
       |    SELECT doc_id, unnest($duckTokens) AS tok FROM documents) WHERE length(tok) > 0),
       |e AS (SELECT doc_id, length(w) AS nc, array_to_string(list_transform(range(1, length(w) + 1),
       |    i -> chr(2)||substr(w, CAST(i AS INT), 1)||chr(3)), '') AS s FROM wd),
       |ap AS (SELECT e.doc_id, e.nc, $applied AS s
       |  FROM e CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN t3 CROSS JOIN t4),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(nc) AS BIGINT) AS n_chars,
       |    CAST(sum(length(s) - length(replace(s, chr(3), ''))) AS BIGINT) AS n_bpe
       |  FROM ap GROUP BY doc_id)""".stripMargin
  }

  private lazy val unimaxEpochsCtes: String =
    s"""$unimaxAllocCtes,
       |ee AS (SELECT lang,
       |  CASE WHEN n_w > 0 THEN round(b_w / n_w, 6) ELSE 0.0 END AS epochs FROM aa),
       |ne AS (SELECT d.doc_id, d.lang,
       |  CAST(floor(ee.epochs) + (CASE WHEN
       |    CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      / 4294967296.0 < ee.epochs - floor(ee.epochs)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_epochs
       |  FROM documents d JOIN ee USING (lang))""".stripMargin

  /** Oracle shared by q115 (recompute path) and q119 (signature-store
    * path) — the store round-trip must be invisible to the result. */
  private lazy val incrementalFuzzySql: String = {
      // q55's shingle→md5-tid→MinHash CTEs, carrying the source number so
      // the band join splits batch (snum >= 10) vs corpus (< 10); a batch
      // doc survives unless a 0.3-Jaccard-verified near-dup exists in the
      // corpus or at a lower batch id. Short docs (< 3 tokens, no
      // shingles) never enter `t` and pass through the anti-joins.
      val bandConds = (0 until 2).map { b =>
        (0 until 4).map(j => s"s1.sig_${4 * b + j} = s2.sig_${4 * b + j}").mkString("(", " AND ", ")")
      }.mkString(" OR ")
      val jac = "len(list_intersect(s1.tids, s2.tids))::DOUBLE / " +
        "(len(s1.tids) + len(s2.tids) - len(list_intersect(s1.tids, s2.tids)))"
      s"""WITH w0 AS (SELECT doc_id, CAST(substr(source, 4) AS INT) AS snum,
         |  string_split_regex(trim(text), '\\s+') AS w FROM documents),
         |sh AS (SELECT doc_id, snum,
         |  list_distinct(list_transform(range(1, len(w) - 1),
         |    i -> array_to_string(w[i:i+2], ' '))) AS shingles
         |  FROM w0 WHERE len(w) >= 3),
         |t AS (SELECT doc_id, snum,
         |  list_distinct(list_transform(shingles, s -> ${portableTidSql("s")})) AS tids
         |  FROM sh),
         |sigs AS (SELECT doc_id, snum, tids, $sigExprsSql FROM t),
         |dup AS (
         |  SELECT DISTINCT s1.doc_id FROM sigs s1 JOIN sigs s2
         |    ON s1.snum >= 10 AND s2.snum < 10 AND ($bandConds)
         |  WHERE round($jac, 6) >= 0.3
         |  UNION
         |  SELECT DISTINCT s2.doc_id FROM sigs s1 JOIN sigs s2
         |    ON s1.snum >= 10 AND s2.snum >= 10 AND s1.doc_id < s2.doc_id
         |    AND ($bandConds)
         |  WHERE round($jac, 6) >= 0.3)
         |SELECT doc_id FROM documents
         |WHERE CAST(substr(source, 4) AS INT) >= 10
         |  AND doc_id NOT IN (SELECT doc_id FROM dup)
         |ORDER BY doc_id""".stripMargin
    }

  /** Three-cycle unroll of the ingest-crawl loop: cycle c's drops are
    * (a) the higher id of every verified within-cycle pair and (b) any
    * doc verified against a SURVIVOR of an earlier cycle — dropped docs
    * leave no store signatures, exactly the engine's append-only store.
    */
  private lazy val ingestCrawlSql: String = {
    val bandConds = (0 until 2).map { b =>
      (0 until 4).map(j => s"s1.sig_${4 * b + j} = s2.sig_${4 * b + j}").mkString("(", " AND ", ")")
    }.mkString(" OR ")
    val jac = "len(list_intersect(s1.tids, s2.tids))::DOUBLE / " +
      "(len(s1.tids) + len(s2.tids) - len(list_intersect(s1.tids, s2.tids)))"
    def c(n: Int, a: String) = n match {
      case 1 => s"$a.snum < 7"
      case 2 => s"$a.snum >= 7 AND $a.snum < 14"
      case 3 => s"$a.snum >= 14"
    }
    def within(n: Int) =
      s"""SELECT DISTINCT s2.doc_id FROM sigs s1 JOIN sigs s2
         |    ON ${c(n, "s1")} AND ${c(n, "s2")} AND s1.doc_id < s2.doc_id
         |    AND ($bandConds)
         |  WHERE round($jac, 6) >= 0.3""".stripMargin
    def vsKept(n: Int, kept: String) =
      s"""SELECT DISTINCT s1.doc_id FROM sigs s1 JOIN sigs s2
         |    ON ${c(n, "s1")} AND s2.doc_id IN (SELECT doc_id FROM $kept)
         |    AND ($bandConds)
         |  WHERE round($jac, 6) >= 0.3""".stripMargin
    s"""WITH w0 AS (SELECT doc_id, CAST(substr(source, 4) AS INT) AS snum,
       |  string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |sh AS (SELECT doc_id, snum,
       |  list_distinct(list_transform(range(1, len(w) - 1),
       |    i -> array_to_string(w[i:i+2], ' '))) AS shingles
       |  FROM w0 WHERE len(w) >= 3),
       |t AS (SELECT doc_id, snum,
       |  list_distinct(list_transform(shingles, s -> ${portableTidSql("s")})) AS tids
       |  FROM sh),
       |sigs AS (SELECT doc_id, snum, tids, $sigExprsSql FROM t),
       |drop1 AS (${within(1)}),
       |kept1 AS (SELECT doc_id FROM w0 WHERE ${c(1, "w0")}
       |  AND doc_id NOT IN (SELECT doc_id FROM drop1)),
       |drop2 AS (${vsKept(2, "kept1")}
       |  UNION
       |  ${within(2)}),
       |kept2 AS (SELECT doc_id FROM w0 WHERE ${c(2, "w0")}
       |  AND doc_id NOT IN (SELECT doc_id FROM drop2)),
       |kept12 AS (SELECT doc_id FROM kept1 UNION SELECT doc_id FROM kept2),
       |drop3 AS (${vsKept(3, "kept12")}
       |  UNION
       |  ${within(3)})
       |SELECT doc_id FROM w0
       |WHERE doc_id IN (SELECT doc_id FROM kept12)
       |   OR (${c(3, "w0")} AND doc_id NOT IN (SELECT doc_id FROM drop3))
       |ORDER BY doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q214_ingest_crawl" -> ingestCrawlSql,
    "q216_cdc_upsert" ->
      """WITH s AS (SELECT doc_id, CAST(substr(source, 4) AS INT) AS snum,
        |  text FROM documents),
        |v AS (SELECT doc_id,
        |  CASE WHEN snum < 3 THEN 3 WHEN snum < 7 THEN 1
        |       WHEN snum < 14 THEN 2 ELSE 3 END AS version, text FROM s)
        |SELECT doc_id,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) % 8 AS bucket,
        |  version,
        |  md5(text || ' [rev ' || CAST(version AS VARCHAR) || ']')
        |    AS content_hash
        |FROM v ORDER BY doc_id""".stripMargin,
    "q217_compact_table" ->
      """SELECT doc_id, doc_id % 4 AS grp, md5(text) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q50_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,
    "q51_token_count" ->
      s"SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tokens FROM documents ORDER BY doc_id",
    "q66_bpe_tokens" ->
      s"""SELECT doc_id,
         | CAST(len($duckTokens) AS BIGINT) AS ws_tokens,
         | CAST(len(list_filter(regexp_extract_all(text,
         |   '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'),
         |   t -> NOT regexp_matches(t, '^\\s+$$'))) AS BIGINT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q52_quality" ->
      s"""SELECT doc_id,
         | CAST(len($duckTokens) AS BIGINT) AS n_tokens,
         | round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / greatest(length(text), 1), 6) AS punct_ratio,
         | round(${stopRatioSql(TextFunctions.LangProfiles.en)}, 6) AS stop_ratio,
         | round(least(len($duckTokens), 200) / 200.0
         |   * (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / greatest(length(text), 1))
         |   * (0.5 + 0.5 * ${stopRatioSql(TextFunctions.LangProfiles.en)}), 6) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q53_langid" -> {
      import TextFunctions.LangProfiles._
      s"""WITH scored AS (SELECT doc_id,
         |  ${stopRatioSql(en)} AS s_en, ${stopRatioSql(de)} AS s_de,
         |  ${stopRatioSql(fr)} AS s_fr, ${stopRatioSql(es)} AS s_es
         | FROM documents)
         |SELECT doc_id,
         | CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |      WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
         |      WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
         |      WHEN s_es > 0 THEN 'es'
         |      ELSE 'und' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    "q54_fingerprint" ->
      s"""SELECT doc_id, md5(array_to_string(list_sort(list_distinct($duckTokens)), ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q55_minhash_lsh" ->
      s"""WITH $minhashPairsSql
         |SELECT doc1, doc2, jaccard FROM mhp
         |ORDER BY doc1, doc2""".stripMargin,
    "q56_simhash" ->
      s"""WITH $simhashSql
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,
    "q62_simhash_hamming" ->
      s"""WITH $simhashSql
         |SELECT s1.doc_id AS doc1, s2.doc_id AS doc2,
         | CAST(bit_count(xor(s1.simhash, s2.simhash)) AS INT) AS hd
         |FROM sh s1 JOIN sh s2 ON s1.doc_id < s2.doc_id
         |WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 3
         |ORDER BY doc1, doc2""".stripMargin,
    "q57_ngram_jaccard" ->
      """WITH grams AS (SELECT DISTINCT doc_id, lang, n_chars, gram FROM (
        |  SELECT doc_id, lang, n_chars,
        |   unnest(list_transform(range(1, length(text) - 1), i -> substr(text, CAST(i AS INT), 3))) AS gram
        |  FROM documents)),
        |szs AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
        |inter AS (SELECT g1.doc_id AS doc1, g2.doc_id AS doc2, count(*) AS inter
        |  FROM grams g1 JOIN grams g2
        |   ON g1.lang = g2.lang AND g1.n_chars = g2.n_chars AND g1.gram = g2.gram
        |   AND g1.doc_id < g2.doc_id
        |  GROUP BY g1.doc_id, g2.doc_id)
        |SELECT i.doc1, i.doc2,
        | round(i.inter::DOUBLE / (s1.sz + s2.sz - i.inter), 6) AS jaccard
        |FROM inter i JOIN szs s1 ON s1.doc_id = i.doc1 JOIN szs s2 ON s2.doc_id = i.doc2
        |WHERE round(i.inter::DOUBLE / (s1.sz + s2.sz - i.inter), 6) >= 0.3
        |ORDER BY doc1, doc2""".stripMargin,
    "q68_dedup_clusters" ->
      """WITH RECURSIVE grams AS (SELECT DISTINCT doc_id, lang, n_chars, gram FROM (
        |  SELECT doc_id, lang, n_chars,
        |   unnest(list_transform(range(1, length(text) - 1), i -> substr(text, CAST(i AS INT), 3))) AS gram
        |  FROM documents)),
        |szs AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
        |inter AS (SELECT g1.doc_id AS doc1, g2.doc_id AS doc2, count(*) AS inter
        |  FROM grams g1 JOIN grams g2
        |   ON g1.lang = g2.lang AND g1.n_chars = g2.n_chars AND g1.gram = g2.gram
        |   AND g1.doc_id < g2.doc_id
        |  GROUP BY g1.doc_id, g2.doc_id),
        |pairs AS (SELECT i.doc1, i.doc2
        |  FROM inter i JOIN szs s1 ON s1.doc_id = i.doc1 JOIN szs s2 ON s2.doc_id = i.doc2
        |  WHERE round(i.inter::DOUBLE / (s1.sz + s2.sz - i.inter), 6) >= 0.3),
        |und AS (SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs),
        |nodes AS (SELECT a AS id FROM und UNION SELECT b FROM und),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id)
        |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS keep_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "q58_ann_topk" ->
      s"""WITH $annTopKCtes
         |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    "q200_ann_shuffle_route" ->
      // ranking identical to q58; the 'shuffle' literal pins the route the
      // byte-budget guard must have taken under the zeroed broadcast
      // budget (the q186 route-pin pattern)
      s"""WITH $annTopKCtes
         |SELECT query_id, vec_id, cos, rank, 'shuffle' AS route
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    "q59_ann_lsh" ->
      s"""WITH b AS (SELECT vec_id, embedding, ${bucketSqlFor("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 5),
         |scored AS (SELECT q.query_id, e.vec_id, $cosSql AS cos
         |  FROM (SELECT vec_id, embedding AS cv, bucket FROM b) e JOIN q USING (bucket)),
         |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "q65_embedding_centroids" ->
      """SELECT label, CAST(i AS INT) AS pos,
        | round(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 6) + 0.0 AS mean_v
        |FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,
    "q61_ann_ivf" -> {
      def dotE(a: String, b: String) =
        s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE)))"
      def cosE(a: String, b: String) =
        s"round(${dotE(a, b)} / (sqrt(${dotE(a, a)}) * sqrt(${dotE(b, b)})), 6) + 0.0"
      s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cv0 FROM embeddings WHERE vec_id % 100 = 0),
         |asg AS (SELECT vec_id, cv, cent_id FROM (
         |  SELECT c.vec_id, c.cv, ct.cent_id,
         |   row_number() OVER (PARTITION BY c.vec_id ORDER BY ${cosE("c.cv", "ct.cv0")} DESC, ct.cent_id) AS rn
         |  FROM (SELECT vec_id, embedding AS cv FROM embeddings) c CROSS JOIN cents ct) WHERE rn = 1),
         |probe AS (SELECT query_id, qv, cent_id FROM (
         |  SELECT q.query_id, q.qv, ct.cent_id,
         |   row_number() OVER (PARTITION BY q.query_id ORDER BY ${cosE("q.qv", "ct.cv0")} DESC, ct.cent_id) AS rn
         |  FROM (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5) q
         |   CROSS JOIN cents ct) WHERE rn <= 2),
         |scored AS (SELECT p.query_id, a.vec_id, ${cosE("p.qv", "a.cv")} AS cos
         |  FROM asg a JOIN probe p USING (cent_id))
         |SELECT query_id, vec_id, cos, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
         |  FROM scored) WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    },
    "q63_normalize" ->
      """SELECT doc_id,
        | trim(regexp_replace(regexp_replace(
        |   lower(concat(upper(substr(text, 1, 40)), '!!  ', text, ' ;; ')),
        |   '[.,!?;:]', '', 'g'), '\s+', ' ', 'g')) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q64_token_freq" ->
      s"""SELECT tok, count(*) AS n FROM (
         |  SELECT unnest($duckTokens) AS tok FROM documents)
         |GROUP BY tok ORDER BY n DESC, tok""".stripMargin,
    "q69_hash_split" ->
      """SELECT doc_id,
        | CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'cc'
        |      THEN 'train' ELSE 'holdout' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q67_pii_scrub" ->
      s"""SELECT doc_id,
         | regexp_replace(regexp_replace(regexp_replace(
         |   text || ' contact user' || CAST(doc_id AS VARCHAR)
         |        || '@example.com call 555-123-4567 from 192.168.0.1',
         |   '${TextFunctions.EmailRe}', '<EMAIL>', 'g'),
         |   '${TextFunctions.PhoneRe}', '<PHONE>', 'g'),
         |   '${TextFunctions.Ipv4Re}', '<IP>', 'g') AS clean
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q60_near_dup_embedding" -> {
      def dotE(a: String, b: String) =
        s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE)))"
      val cos = s"round(${dotE("v1", "v2")} / (sqrt(${dotE("v1", "v1")}) * sqrt(${dotE("v2", "v2")})), 6) + 0.0"
      s"""WITH pairs AS (SELECT e1.vec_id AS id1, e2.vec_id AS id2,
         |  e1.embedding AS v1, e2.embedding AS v2
         | FROM embeddings e1 JOIN embeddings e2
         |  ON e1.label = e2.label AND e1.vec_id < e2.vec_id)
         |SELECT id1, id2, $cos AS cos FROM pairs
         |WHERE $cos >= 0.8 ORDER BY id1, id2""".stripMargin
    },
    "q74_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($duckTokens) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         |dfq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT tf.doc_id, tf.tok, tf.tf, dfq.df,
         | round(tf.tf::DOUBLE * (ln((n.n_docs + 1)::DOUBLE / (dfq.df + 1)) + 1.0), 6) AS tfidf
         |FROM tf JOIN dfq USING (tok) CROSS JOIN n
         |ORDER BY doc_id, tok""".stripMargin,
    "q75_doc_repetition" ->
      s"""WITH w0 AS (SELECT doc_id, $duckTokens AS w FROM documents),
         |bg AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(w)),
         |    i -> w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)])) AS bg FROM w0),
         |c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
         |top AS (SELECT doc_id, max(c) AS max_bg FROM c GROUP BY 1),
         |base AS (SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nd FROM w0)
         |SELECT b.doc_id, round((b.n - b.nd)::DOUBLE / b.n, 6) AS dup_frac,
         | round(t.max_bg::DOUBLE / (b.n - 1), 6) AS top_bigram_frac
         |FROM base b JOIN top t USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q76_contamination" ->
      """WITH w0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'cc' AS is_train FROM documents),
        |shg AS (SELECT doc_id, is_train,
        |  unnest(list_distinct(list_transform(range(1, len(w) - 1),
        |    i -> array_to_string(w[i:i+2], ' ')))) AS shingle
        |  FROM w0 WHERE len(w) >= 3),
        |train AS (SELECT DISTINCT shingle FROM shg WHERE is_train),
        |hold AS (SELECT doc_id, shingle FROM shg WHERE NOT is_train),
        |shared AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared FROM hold
        |  WHERE shingle IN (SELECT shingle FROM train) GROUP BY doc_id),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM hold GROUP BY doc_id)
        |SELECT s.doc_id, sizes.n_shingles, s.n_shared,
        | round(s.n_shared::DOUBLE / sizes.n_shingles, 6) AS shared_frac
        |FROM shared s JOIN sizes USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q77_top_tokens_per_lang" ->
      s"""WITH toks AS (SELECT lang, unnest($duckTokens) AS tok FROM documents),
         |c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1, 2),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS INT) AS rank
         |  FROM c)
         |SELECT lang, tok, n, rank FROM r WHERE rank <= 3 ORDER BY lang, rank""".stripMargin,
    "q78_vector_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |  127.0 / CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS scale
        | FROM embeddings)
        |SELECT vec_id, CAST(i AS INT) AS pos,
        | CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * scale + 0.5) AS INT) AS qv
        |FROM s, unnest(range(1, len(embedding) + 1)) AS u(i)
        |ORDER BY vec_id, pos""".stripMargin,
    "q79_bm25" -> {
      val (k1, b) = (1.2, 0.75)
      val terms = Bm25Terms
      val tfs = terms.indices.map(i =>
        s"CAST(len(list_filter(w, x -> x = '${terms(i)}')) AS DOUBLE) AS tf_$i").mkString(", ")
      val dfs = terms.indices.map(i =>
        s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
      // contributions summed in literal term order — matches the Spark side's
      // fixed-expression reduce, so the double result is bit-identical
      val score = terms.indices.map { i =>
        s"ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5)) * (tf_$i * ${k1 + 1}) / " +
          s"(tf_$i + $k1 * (${1 - b} + $b * (dl / (sum_dl / n_docs))))"
      }.mkString(" + ")
      val anyTf = terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
      s"""WITH w0 AS (SELECT doc_id, $duckTokens AS w FROM documents),
         |base AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, $tfs FROM w0),
         |sc AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $dfs FROM base)
         |SELECT doc_id, round($score, 6) AS score
         |FROM base CROSS JOIN sc WHERE $anyTf ORDER BY doc_id""".stripMargin
    },
    "q87_sequence_packing" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens, sum(n_tokens) OVER (ORDER BY doc_id) AS cum FROM t)
         |SELECT doc_id, n_tokens,
         |  CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS shard
         |FROM c ORDER BY doc_id""".stripMargin,
    "q88_mixture_sample" ->
      """WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY source),
        |tot AS (SELECT sum(n_s) AS n FROM cnt),
        |w AS (SELECT source, n_s, pow(n_s / n, 0.5) AS w_s FROM cnt, tot),
        |r AS (SELECT source,
        |  least(1.0, round(0.5 * (SELECT sum(n_s) FROM cnt) * w_s
        |    / ((SELECT sum(w_s) FROM w) * n_s), 6)) AS rate FROM w)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r USING (source)
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |  / 4294967296.0 < rate
        |ORDER BY d.doc_id""".stripMargin,
    "q89_incremental_dedup" ->
      s"""WITH f AS (SELECT doc_id,
         |  CAST(substr(source, 4) AS INT) AS snum,
         |  md5(array_to_string(list_sort(list_distinct($duckTokens)), ' ')) AS fp
         |  FROM documents),
         |keep AS (SELECT fp, min(doc_id) AS doc_id FROM f WHERE snum >= 10 GROUP BY fp)
         |SELECT k.doc_id FROM keep k
         |ANTI JOIN (SELECT DISTINCT fp FROM f WHERE snum < 10) c ON k.fp = c.fp
         |ORDER BY doc_id""".stripMargin,
    "q90_scrub_repeats" ->
      s"""WITH w AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |k AS (SELECT doc_id, toks,
         |  list_filter(toks, (t, i) -> i = 1 OR t != toks[i-1]) AS kept FROM w)
         |SELECT doc_id, array_to_string(kept, ' ') AS cleaned,
         |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed
         |FROM k ORDER BY doc_id""".stripMargin,
    "q94_kmeans" ->
      // unrolled Lloyd iterations as CTEs (shared with q104), in exact
      // lockstep with Clustering.kmeans: double vectors, index-ordered
      // squared-L2 with explicit (a-b)*(a-b) products rounded to 9 decimals,
      // lowest-cluster tie-break, 6-decimal centroid means, empty clusters
      // keeping the previous centroid via the left-join coalesce.
      s"""WITH ${kmeansCtes(k = 8, iters = 3, dim = 64)}
         |SELECT vec_id, CAST(cl AS INT) AS cluster FROM a3 ORDER BY vec_id""".stripMargin,
    "q104_semdedup" -> {
      // the q94 kmeans CTEs verbatim, then SemDeDup's within-cluster prune:
      // a row is a duplicate when a LOWER-id row in its cluster has cosine
      // (double dot / norms, rounded 6 — the q60 formula) >= 0.35 (the
      // gate's threshold — the synthetic embeddings are near-orthogonal, so
      // 0.35 plays the role the paper's ~0.9 does on real text).
      def dotE(a: String, b: String) =
        s"list_sum(list_transform(range(1, len($a)+1), i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)]))"
      val cos = s"round(${dotE("x.v", "y.v")} / (sqrt(${dotE("x.v", "x.v")}) * sqrt(${dotE("y.v", "y.v")})), 6)"
      s"""WITH ${kmeansCtes(k = 8, iters = 3, dim = 64)},
         |asg AS (SELECT vec_id, CAST(cl AS INT) AS cluster FROM a3),
         |vv AS (SELECT a.vec_id, a.cluster, v.v FROM asg a JOIN v USING (vec_id)),
         |dup AS (SELECT DISTINCT y.vec_id FROM vv x JOIN vv y
         |  ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |  WHERE $cos >= 0.35)
         |SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
         |FROM asg a LEFT JOIN dup d USING (vec_id) ORDER BY vec_id""".stripMargin
    },
    "q105_chunk_windows" ->
      // n_chunks = 1 + ceil(max(0, n-window)/stride); last chunk truncated.
      s"""WITH w AS (SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens, CAST(u.i AS INT) AS chunk_idx,
         |    CAST(1 + u.i * 30 AS BIGINT) AS tok_start
         |  FROM w, unnest(range(0, 1 + CAST(ceil(greatest(n_tokens - 40, 0)::DOUBLE / 30) AS BIGINT))) AS u(i)
         |  WHERE n_tokens > 0)
         |SELECT doc_id, chunk_idx, tok_start,
         |  CAST(least(40, n_tokens - tok_start + 1) AS BIGINT) AS tok_len
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q114_semantic_curation" -> {
      // quality + fingerprint-dedup survivors, then the q104 SemDeDup CTEs
      // refit over ONLY the survivors' embeddings (src = se), left-anti
      // the dropped ids — docs without embeddings pass through.
      def dotE(a: String, b: String) =
        s"list_sum(list_transform(range(1, len($a)+1), i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)]))"
      val cos = s"round(${dotE("x.v", "y.v")} / (sqrt(${dotE("x.v", "x.v")}) * sqrt(${dotE("y.v", "y.v")})), 6)"
      s"""WITH q AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct($duckTokens)), ' ')) AS fp
         |  FROM documents WHERE $qualitySql >= 0.2),
         |sv AS (SELECT doc_id FROM (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS k FROM q) WHERE doc_id = k),
         |se AS (SELECT e.vec_id, e.embedding FROM embeddings e JOIN sv ON e.vec_id = sv.doc_id),
         |${kmeansCtes(k = 8, iters = 3, dim = 64, src = "se")},
         |asg AS (SELECT vec_id, CAST(cl AS INT) AS cluster FROM a3),
         |vv AS (SELECT a.vec_id, a.cluster, v.v FROM asg a JOIN v USING (vec_id)),
         |dup AS (SELECT DISTINCT y.vec_id FROM vv x JOIN vv y
         |  ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |  WHERE $cos >= 0.35)
         |SELECT sv.doc_id FROM sv LEFT JOIN dup d ON sv.doc_id = d.vec_id
         |WHERE d.vec_id IS NULL ORDER BY sv.doc_id""".stripMargin
    },
    "q115_incremental_fuzzy" -> incrementalFuzzySql,
    // identical math through a persisted signature store: same oracle
    "q119_store_dedup" -> incrementalFuzzySql,
    // the oracle for the fixture decode is the committed expected table
    // (several rows analytically known — see the query comment); DuckDB
    // reads it directly
    "q121_multimodal_decode" ->
      """SELECT * FROM '/root/repo/fixtures/multimodal_expected.parquet/*.parquet'
        |ORDER BY name, feat_idx""".stripMargin,
    "q116_cms_freq" -> {
      // replay the rows-CMS exactly: same md5-prefix token ids, same
      // (a, b, prime, width) hash family, same bucket counts. The merge
      // step is a sum over per-source sketches, so the global sketch the
      // Spark side probes equals the direct global counts computed here.
      val w = 64
      val p = graft.operators.Sketches.CmsPrime
      val branches = graft.operators.Sketches.CmsPerms.zipWithIndex.map {
        case ((a, b), i) => s"SELECT $i AS d, ((tid*$a+$b)%$p)%$w AS bucket FROM tids"
      }.mkString(" UNION ALL ")
      val lookups = graft.operators.Sketches.CmsPerms.zipWithIndex.map {
        case ((a, b), i) =>
          s"coalesce((SELECT cnt FROM sketch s WHERE s.d = $i AND s.bucket = ((e.tid*$a+$b)%$p)%$w), 0)"
      }.mkString("least(", ",\n         |   ", ")")
      s"""WITH toks AS (SELECT unnest($duckTokens) AS tok FROM documents),
         |tids AS (SELECT tok, ${portableTidSql("tok")} AS tid FROM toks),
         |sketch AS (SELECT d, bucket, count(*) AS cnt FROM ($branches) u GROUP BY d, bucket),
         |e AS (SELECT tok, any_value(tid) AS tid, count(*) AS exact FROM tids GROUP BY tok)
         |SELECT e.tok, e.exact, $lookups AS est
         |FROM e ORDER BY e.tok""".stripMargin
    },
    "q117_source_stats" ->
      s"""SELECT source, count(*) AS n_docs,
         | CAST(sum(len($duckTokens)) AS BIGINT) AS n_tokens,
         | round(avg($qualitySql), 6) AS avg_quality,
         | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         | CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q118_train_order" ->
      """SELECT doc_id,
        | CAST(row_number() OVER (ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q113_stratified_split" -> {
      // cum fractions inlined as the EXACT Scala doubles (0.8 + 0.1 is
      // 0.9000000000000001 — writing "0.9" would disagree with the engine
      // whenever n·cum straddles an integer between the two values)
      val cums = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      s"""WITH r AS (SELECT doc_id, lang,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         |  count(*) OVER (PARTITION BY lang) AS n FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN rn <= floor(n * ${cums(0)}) THEN 'train'
         |       WHEN rn <= floor(n * ${cums(1)}) THEN 'val'
         |       ELSE 'test' END AS split
         |FROM r ORDER BY doc_id""".stripMargin
    },
    "q112_token_quota" ->
      s"""WITH w AS (SELECT doc_id, source,
         |    CAST(len($duckTokens) AS BIGINT) AS n_tokens FROM documents),
         |r AS (SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
         |         AS BIGINT) AS cum FROM w)
         |SELECT doc_id, source, n_tokens, cum FROM r
         |WHERE cum <= 1200 ORDER BY doc_id""".stripMargin,
    "q106_source_quota" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY doc_id""".stripMargin,
    "q107_quality_classifier" -> {
      // full-batch GD unrolled as CTEs in lockstep with logisticFitScore:
      // w0 = 0; per-row p = round(sigmoid(w·x), 6); per-component gradient
      // rounded 6; weight update w - 2*g rounded 6; final score rounded
      // ONCE to 6 dp (round-twice lands ~1% of rows on 4-dp half ties,
      // where the engines' round algorithms legitimately differ). Feature
      // arithmetic is written in the exact evaluation order of the Spark
      // expressions.
      val feats =
        s"""1.0 AS x0, ln(CAST(n_chars AS DOUBLE) + 1.0) / 10.0 AS x1,
           |  CAST(len($duckTokens) AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 1.0) AS x2""".stripMargin
      def z(w: String) = s"f.x0 * $w.w0 + f.x1 * $w.w1 + f.x2 * $w.w2"
      def iterCtes(n: Int): String =
        s"""gr$n AS (SELECT round(avg((p - y) * x0), 6) AS g0,
           |    round(avg((p - y) * x1), 6) AS g1, round(avg((p - y) * x2), 6) AS g2
           |  FROM (SELECT f.y, f.x0, f.x1, f.x2,
           |    round(1.0 / (1.0 + exp(-(${z(s"wi${n - 1}")}))), 6) AS p
           |    FROM f CROSS JOIN wi${n - 1})),
           |wi$n AS (SELECT round(w.w0 - 2.0 * g.g0, 6) AS w0,
           |    round(w.w1 - 2.0 * g.g1, 6) AS w1, round(w.w2 - 2.0 * g.g2, 6) AS w2
           |  FROM wi${n - 1} w CROSS JOIN gr$n g)""".stripMargin
      s"""WITH f AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         |  $feats FROM documents),
         |wi0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
         |${(1 to 4).map(iterCtes).mkString(",\n")}
         |SELECT f.doc_id, f.y,
         |  round(1.0 / (1.0 + exp(-(${z("wi4")}))), 6) AS score
         |FROM f CROSS JOIN wi4 ORDER BY doc_id""".stripMargin
    },
    "q99_hll_merge" ->
      """SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
        | true AS merge_tracks_direct, true AS within_error_bound
        |FROM documents""".stripMargin,
    "q100_stream_curation" ->
      s"""WITH q AS (SELECT doc_id, text FROM documents WHERE $qualitySql >= 0.2),
         |w AS (SELECT doc_id, $duckTokens AS toks FROM q),
         |k AS (SELECT array_to_string(list_filter(toks, (t, i) -> i = 1 OR t != toks[i-1]), ' ') AS cleaned FROM w)
         |SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(cleaned), '\\s+'))), ' ')) AS fp
         |FROM k ORDER BY fp""".stripMargin,
    "q101_unigram_ppl" ->
      s"""WITH $unigramNllCtes
         |SELECT doc_id, n_tokens, nll FROM nllt ORDER BY doc_id""".stripMargin,
    "q110_bpe_merges" -> {
      // unrolled BPE rounds in lockstep with Bpe.learnMerges: word types
      // with frequencies, STX/ETX-bracketed symbol strings, weighted pair
      // counts, (n DESC, left, right) winner, replace()-fused — replace is
      // left-to-right non-overlapping in both engines (greedy BPE).
      val toksOf = s"string_split(substr(s, 2, length(s) - 2), chr(3)||chr(2))"
      def roundCtes(m: Int): String =
        s"""p$m AS (SELECT t[CAST(u.i AS INT)] AS l, t[CAST(u.i AS INT) + 1] AS r, CAST(sum(wc) AS BIGINT) AS n
           |  FROM (SELECT wc, $toksOf AS t FROM s${m - 1}),
           |    unnest(range(1, len(t))) AS u(i)
           |  GROUP BY 1, 2),
           |t$m AS (SELECT l, r, n FROM (
           |    SELECT l, r, n, 0 AS pri FROM p$m
           |    UNION ALL SELECT '', '', 0, 1) ORDER BY pri, n DESC, l, r LIMIT 1),
           |s$m AS (SELECT wc,
           |    replace(s, chr(2)||t.l||chr(3)||chr(2)||t.r||chr(3), chr(2)||t.l||t.r||chr(3)) AS s
           |  FROM s${m - 1} CROSS JOIN t$m t)""".stripMargin
      s"""WITH words AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS wc FROM (
         |    SELECT unnest($duckTokens) AS tok FROM documents) WHERE length(tok) > 0 GROUP BY tok),
         |s0 AS (SELECT wc, array_to_string(list_transform(range(1, length(w) + 1),
         |    i -> chr(2)||substr(w, CAST(i AS INT), 1)||chr(3)), '') AS s FROM words),
         |${(1 to 4).map(roundCtes).mkString(",\n")}
         |SELECT merge_idx, l AS "left", r AS "right", n FROM (
         |  SELECT 1 AS merge_idx, * FROM t1 UNION ALL SELECT 2, * FROM t2
         |  UNION ALL SELECT 3, * FROM t3 UNION ALL SELECT 4, * FROM t4)
         |WHERE n > 0 ORDER BY merge_idx""".stripMargin
    },
    "q111_bpe_encode" ->
      // the shared train+apply chain (q110's winners fused per word), then
      // per-doc totals. LEFT JOIN keeps docs with zero non-empty words.
      s"""WITH $bpeEncodeAggCtes
         |SELECT d.doc_id, coalesce(a.n_words, 0) AS n_words,
         |  coalesce(a.n_chars, 0) AS n_chars, coalesce(a.n_bpe, 0) AS n_bpe
         |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "q108_length_batches" ->
      s"""WITH w AS (SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tokens FROM documents),
         |b AS (SELECT doc_id, n_tokens,
         |  CAST(floor((n_tokens - 1)::DOUBLE / 64) AS BIGINT) AS bucket FROM w),
         |r AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM b)
         |SELECT doc_id, n_tokens, bucket,
         |  CAST(floor((rn - 1)::DOUBLE / 8) AS BIGINT) AS batch_idx
         |FROM r ORDER BY doc_id""".stripMargin,
    "q109_ppl_filter" ->
      s"""WITH $unigramNllCtes,
         |cut AS (SELECT round(quantile_cont(nll, 0.75), 6) AS cut FROM nllt)
         |SELECT doc_id, n_tokens, nll FROM nllt CROSS JOIN cut
         |WHERE nll <= cut ORDER BY doc_id""".stripMargin,
    "q103_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |wh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 10 + 2),
         |         i -> md5(array_to_string(toks[i:i+9], ' '))))) AS h
         |       FROM t WHERE len(toks) >= 10),
         |byh AS (SELECT h, count(*) AS ndocs FROM wh GROUP BY h)
         |SELECT wh.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(CASE WHEN byh.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  round(sum(CASE WHEN byh.ndocs >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_frac
         |FROM wh JOIN byh USING (h)
         |GROUP BY wh.doc_id ORDER BY wh.doc_id""".stripMargin,
    "q102_importance_score" ->
      s"""WITH w AS (SELECT doc_id, lang, $duckTokens AS toks FROM documents),
         |tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM w),
         |c AS (SELECT tok, CAST(count(*) AS DOUBLE) AS cc FROM tok GROUP BY tok),
         |t AS (SELECT tok, CAST(count(*) AS DOUBLE) AS tc FROM tok WHERE lang = 'en' GROUP BY tok),
         |scal AS (SELECT (SELECT sum(cc) FROM c) AS ctot,
         |                (SELECT coalesce(sum(tc), 0) FROM t) AS ttot,
         |                (SELECT CAST(count(*) AS DOUBLE) FROM c) AS v)
         |SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(
         |      CAST(round(round(ln((coalesce(t.tc, 0) + 1) / (s.ttot + s.v)), 6) * 1e6, 0) AS BIGINT)
         |    - CAST(round(round(ln((c.cc + 1) / (s.ctot + s.v)), 6) * 1e6, 0) AS BIGINT)) AS DOUBLE)
         |    / (1e6 * count(*)), 4) + 0.0 AS ilr
         |FROM tok k JOIN c USING (tok) LEFT JOIN t USING (tok) CROSS JOIN scal s
         |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin,
    "q97_pq_topk" -> {
      // mirrors Similarity.topK with code Pq() (m=8 subspaces over dim 64, codebook 16,
      // 3 Lloyd iterations, k=10, queries = vec_id < 5) in exact lockstep:
      // per-subspace kmeans unrolled as CTEs (the q94 technique), ENCODING
      // against the FINAL codebooks (one assignment round past the last
      // update), per-query ADC tables left unrounded, the m lookups summed
      // left-to-right, the total rounded to 6 decimals, ties broken by
      // candidate id.
      val (m, cb, iters, dim, k) = (8, 16, 3, 64, 10)
      val sub = dim / m
      def l2(a: String, b: String): String =
        s"""list_sum(list_transform(range(1, ${sub + 1}),
           |    i -> ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * ($a[CAST(i AS INT)] - $b[CAST(i AS INT)])))""".stripMargin
      def subspaceCtes(j: Int): String = {
        def iterSql(n: Int): String =
          s"""d${j}_$n AS (SELECT v.vec_id, c.cl, round(${l2("v.sv", "c.cv")}, 9) AS dist
             |  FROM v$j v CROSS JOIN c${j}_${n - 1} c),
             |a${j}_$n AS (SELECT vec_id, cl FROM (
             |  SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn FROM d${j}_$n)
             |  WHERE rn = 1),
             |m${j}_$n AS (SELECT a.cl, CAST(u.i AS INT) AS pos, round(avg(v.sv[CAST(u.i AS INT)]), 6) AS m
             |  FROM v$j v JOIN a${j}_$n a USING (vec_id), unnest(range(1, ${sub + 1})) AS u(i)
             |  GROUP BY a.cl, u.i),
             |c${j}_$n AS (SELECT p.cl, list(coalesce(m.m, p.cv[CAST(u.i AS INT)]) ORDER BY u.i) AS cv
             |  FROM c${j}_${n - 1} p CROSS JOIN unnest(range(1, ${sub + 1})) AS u(i)
             |  LEFT JOIN m${j}_$n m ON m.cl = p.cl AND m.pos = u.i
             |  GROUP BY p.cl)""".stripMargin
        s"""v$j AS (SELECT vec_id, vd[${j * sub + 1}:${(j + 1) * sub}] AS sv FROM v),
           |c${j}_0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl, sv AS cv
           |  FROM (SELECT vec_id, sv FROM v$j ORDER BY vec_id LIMIT $cb)),
           |${(1 to iters).map(iterSql).mkString(",\n")},
           |e$j AS (SELECT vec_id, cl AS code FROM (
           |  SELECT v.vec_id, c.cl, row_number() OVER (PARTITION BY v.vec_id
           |    ORDER BY round(${l2("v.sv", "c.cv")}, 9), c.cl) AS rn
           |  FROM v$j v CROSS JOIN c${j}_$iters c) WHERE rn = 1),
           |t$j AS (SELECT q.vec_id AS query_id, c.cl, ${l2("q.sv", "c.cv")} AS d
           |  FROM (SELECT vec_id, sv FROM v$j WHERE vec_id < 5) q CROSS JOIN c${j}_$iters c)""".stripMargin
      }
      val encJoin = (1 until m).foldLeft("SELECT e0.vec_id" +
        (0 until m).map(j => s", e$j.code AS code$j").mkString + " FROM e0") {
        (acc, j) => acc + s" JOIN e$j USING (vec_id)"
      }
      val scoreJoins = (0 until m).map { j =>
        val qd = if (j == 0) "" else s" AND t$j.query_id = t0.query_id"
        s"JOIN t$j ON t$j.cl = enc.code$j$qd"
      }.mkString("\n  ")
      val total = (0 until m).map(j => s"t$j.d").mkString(" + ")
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
         |${(0 until m).map(subspaceCtes).mkString(",\n")},
         |enc AS ($encJoin),
         |score AS (SELECT t0.query_id, enc.vec_id, round($total, 6) AS dist
         |  FROM enc
         |  ${scoreJoins}),
         |ranked AS (SELECT query_id, vec_id, dist,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS INT) AS rank
         |  FROM score)
         |SELECT query_id, vec_id, dist, rank FROM ranked WHERE rank <= $k
         |ORDER BY query_id, rank""".stripMargin
    },
    "q91_curation_pipeline" -> {
      s"""WITH q AS (SELECT doc_id, text FROM documents WHERE $qualitySql >= 0.2),
         |w AS (SELECT doc_id, $duckTokens AS toks FROM q),
         |k AS (SELECT doc_id,
         |  array_to_string(list_filter(toks, (t, i) -> i = 1 OR t != toks[i-1]), ' ') AS cleaned FROM w),
         |f AS (SELECT doc_id, cleaned,
         |  md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(cleaned), '\\s+'))), ' ')) AS fp FROM k),
         |m AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
         |s AS (SELECT f.doc_id,
         |  CAST(len(string_split_regex(trim(f.cleaned), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM f JOIN m ON f.doc_id = m.doc_id),
         |c AS (SELECT doc_id, n_tokens, sum(n_tokens) OVER (ORDER BY doc_id) AS cum FROM s)
         |SELECT doc_id, n_tokens, CAST(floor((cum - n_tokens) / 1024.0) AS BIGINT) AS shard
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "q140_multimodal_resize" ->
      """SELECT * FROM '/root/repo/fixtures/multimodal_resize_expected.parquet/*.parquet'
        |ORDER BY name, y, x""".stripMargin,
    "q149_video_frames" ->
      """SELECT * FROM '/root/repo/fixtures/multimodal_frames_expected.parquet/*.parquet'
        |ORDER BY name, frame_idx""".stripMargin,
    "q152_lang_mix" -> {
      val ps = Seq("en" -> TextFunctions.LangProfiles.en,
        "de" -> TextFunctions.LangProfiles.de,
        "fr" -> TextFunctions.LangProfiles.fr,
        "es" -> TextFunctions.LangProfiles.es)
      val cols = ps.map { case (nm, p) =>
        s"round(${stopRatioSql(p)}, 6) AS r_$nm" }.mkString(",\n|  ")
      val hits = ps.map { case (_, p) =>
        s"(CASE WHEN ${stopRatioSql(p)} >= 0.02 THEN 1 ELSE 0 END)" }.mkString(" + ")
      s"""SELECT doc_id,
         |  $cols,
         |  CAST($hits AS BIGINT) AS n_langs,
         |  ($hits) >= 2 AS is_mixed
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q151_snapshot_diff" ->
      """WITH newv AS (SELECT doc_id, text FROM documents),
        |oldv AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 7 THEN text || ' v1' ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 5),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    md5(o.text) AS oh, md5(n.text) AS nh
        |  FROM oldv o FULL OUTER JOIN newv n ON n.doc_id = o.doc_id)
        |SELECT doc_id,
        |  CASE WHEN oh IS NULL THEN 'added'
        |    WHEN nh IS NULL THEN 'removed'
        |    WHEN oh <> nh THEN 'changed'
        |    ELSE 'same' END AS status
        |FROM j ORDER BY doc_id""".stripMargin,
    "q150_warc_extract" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'http://a.example/x', 'Alpha hello warc one'),
        |  (CAST(2 AS BIGINT), 'http://b.example/y?z=1', 'beta and gamma f')
        |) AS t(record_idx, uri, clean) ORDER BY record_idx""".stripMargin,
    "q147_trigram_ppl" ->
      // the bigram/unigram models cover the FULL token stream; the
      // λ-mixture is the same fixed-order 3-term sum as the engine side
      s"""WITH w AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |tr AS (SELECT doc_id, toks[CAST(u.i - 2 AS INT)] AS w1,
         |    toks[CAST(u.i - 1 AS INT)] AS w2, toks[CAST(u.i AS INT)] AS w3
         |  FROM w, unnest(range(3, len(toks) + 1)) AS u(i)
         |  WHERE len(toks) >= 3),
         |c3 AS (SELECT w1, w2, w3, CAST(count(*) AS DOUBLE) AS c3 FROM tr GROUP BY 1, 2, 3),
         |x3 AS (SELECT w1, w2, sum(c3) AS cc3 FROM c3 GROUP BY 1, 2),
         |pr AS (SELECT toks[CAST(u.i - 1 AS INT)] AS w2, toks[CAST(u.i AS INT)] AS w3
         |  FROM w, unnest(range(2, len(toks) + 1)) AS u(i)
         |  WHERE len(toks) >= 2),
         |c2 AS (SELECT w2, w3, CAST(count(*) AS DOUBLE) AS c2 FROM pr GROUP BY 1, 2),
         |x2 AS (SELECT w2, sum(c2) AS cc2 FROM c2 GROUP BY 1),
         |un AS (SELECT unnest(toks) AS w3 FROM w),
         |c1 AS (SELECT w3, CAST(count(*) AS DOUBLE) AS c1 FROM un GROUP BY 1),
         |sc AS (SELECT sum(c1) AS n, CAST(count(*) AS DOUBLE) AS v FROM c1)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
         |  round(CAST(sum(CAST(round(round(-ln(
         |      0.5 * (c3.c3 + 1) / (x3.cc3 + sc.v)
         |    + 0.3 * (c2.c2 + 1) / (x2.cc2 + sc.v)
         |    + 0.2 * c1.c1 / sc.n), 6) * 1e6, 0) AS BIGINT)) AS DOUBLE)
         |    / (1e6 * count(*)), 4) AS nll
         |FROM tr t JOIN c3 USING (w1, w2, w3) JOIN x3 USING (w1, w2)
         |  JOIN c2 USING (w2, w3) JOIN x2 USING (w2) JOIN c1 USING (w3)
         |  CROSS JOIN sc
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q144_standardize" ->
      // + 0.0 canonicalizes the signed zero a round of a tiny negative
      // yields in DuckDB but not Spark (the q102 artifact class)
      """WITH b AS (SELECT vec_id, CAST(u.i - 1 AS INT) AS pos,
        |    CAST(round(round(CAST(embedding[CAST(u.i AS INT)] AS DOUBLE), 6) * 1e6, 0) AS BIGINT) AS xi
        |  FROM embeddings, unnest(range(1, 65)) AS u(i)),
        |st AS (SELECT pos, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xi) AS BIGINT) AS s1,
        |    sum(CAST(xi AS HUGEINT) * xi) AS s2 FROM b GROUP BY pos),
        |j AS (SELECT b.vec_id, b.pos, b.xi,
        |    CAST(st.s1 AS DOUBLE) / (1e6 * st.n) AS mu,
        |    sqrt(greatest(0.0, CAST(st.s2 AS DOUBLE) / (1e12 * st.n)
        |      - (CAST(st.s1 AS DOUBLE) / (1e6 * st.n)) * (CAST(st.s1 AS DOUBLE) / (1e6 * st.n)))) AS sigma
        |  FROM b JOIN st USING (pos))
        |SELECT vec_id, pos,
        |  CASE WHEN sigma > 0 THEN round((CAST(xi AS DOUBLE) / 1e6 - mu) / sigma, 6) + 0.0
        |    ELSE 0.0 END AS z
        |FROM j ORDER BY vec_id, pos""".stripMargin,
    "q143_pca_power" -> {
      // unrolled power iteration: p0 = 1/8 per coordinate (dim 64);
      // per round, s = round(x·p, 6) per row, y_int = Σ round-6-lifted
      // terms, norm from the exact HUGEINT square-sum, p = round(y/‖y‖, 6)
      val dim = 64
      def iterSql(n: Int): String =
        s"""s$n AS (SELECT v.vec_id, round(list_sum(list_transform(range(1, ${dim + 1}),
           |    i -> v.x[CAST(i AS INT)] * p.pv[CAST(i AS INT)])), 6) AS s
           |  FROM v CROSS JOIN p${n - 1} p),
           |y$n AS (SELECT CAST(u.i AS INT) AS pos,
           |    sum(CAST(round(round(v.x[CAST(u.i AS INT)] * s.s, 6) * 1e6, 0) AS BIGINT)) AS yi
           |  FROM v JOIN s$n s USING (vec_id), unnest(range(1, ${dim + 1})) AS u(i)
           |  GROUP BY u.i),
           |n$n AS (SELECT sqrt(CAST(sum(CAST(yi AS HUGEINT) * yi) AS DOUBLE)) / 1e6 AS nm FROM y$n),
           |p$n AS (SELECT list(round((CAST(yi AS DOUBLE) / 1e6) / n.nm, 6) ORDER BY pos) AS pv
           |  FROM y$n CROSS JOIN n$n n GROUP BY n.nm)""".stripMargin
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
         |  FROM embeddings),
         |p0 AS (SELECT list_transform(range(1, ${dim + 1}), i -> 0.125) AS pv),
         |${(1 to 6).map(iterSql).mkString(",\n")}
         |SELECT v.vec_id, round(list_sum(list_transform(range(1, ${dim + 1}),
         |    i -> v.x[CAST(i AS INT)] * p.pv[CAST(i AS INT)])), 6) AS pc1
         |FROM v CROSS JOIN p6 p ORDER BY v.vec_id""".stripMargin
    },
    "q142_luhn_scrub" -> {
      // Luhn mod-10 over a known digit-string expression S, in pure SQL
      def luhn(sExpr: String): String =
        s"""(list_sum(list_transform(range(1, length($sExpr) + 1), i ->
           |  CASE WHEN (length($sExpr) - i) % 2 = 1
           |    THEN CASE WHEN CAST(substr($sExpr, CAST(i AS INT), 1) AS INT) * 2 > 9
           |      THEN CAST(substr($sExpr, CAST(i AS INT), 1) AS INT) * 2 - 9
           |      ELSE CAST(substr($sExpr, CAST(i AS INT), 1) AS INT) * 2 END
           |    ELSE CAST(substr($sExpr, CAST(i AS INT), 1) AS INT) END)) % 10 = 0)""".stripMargin
      s"""WITH c AS (SELECT doc_id, text,
         |    '45320151128' || lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0') AS c1
         |  FROM documents),
         |v AS (SELECT doc_id, text, c1, ${luhn("c1")} AS ok1 FROM c)
         |SELECT doc_id,
         |  text || ' pay ' || CASE WHEN ok1 THEN '[CC]' ELSE c1 END ||
         |    ' or [CC] ref 12345678901234567890 end' AS scrubbed,
         |  CAST(CASE WHEN ok1 THEN 2 ELSE 1 END AS BIGINT) AS n_cc
         |FROM v ORDER BY doc_id""".stripMargin
    },
    "q137_html_extract" ->
      // same page chrome, same 3-step regex chain; DuckDB needs the 'g'
      // option where Spark's regexp_replace is global by default
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
        |  '</title><script>var x = 1;</script><style>p{color:red}</style>' ||
        |  '</head><body><nav><a href="/">home</a> | <a href="/about">about</a></nav><p>' ||
        |  text ||
        |  '</p><div class="ad">buy now</div><footer>(c) example</footer></body></html>' AS html
        | FROM documents),
        |c AS (SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(html,
        |  '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |  '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS clean FROM h)
        |SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_chars
        |FROM c ORDER BY doc_id""".stripMargin,
    "q138_oov_rate" ->
      s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS tok FROM documents),
         |v AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tok GROUP BY tok
         |      ORDER BY c DESC, tok LIMIT 100)),
         |j AS (SELECT t.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tok t LEFT JOIN v ON v.tok = t.tok)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(oov) AS BIGINT) AS n_oov,
         |  round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q139_source_overlap" ->
      s"""WITH w0 AS (SELECT source, $duckTokens AS w FROM documents),
         |sh AS (SELECT DISTINCT source, u.s AS shingle FROM w0,
         |  unnest(list_distinct(list_transform(range(1, len(w) - 1),
         |    i -> w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)] || ' ' || w[CAST(i + 2 AS INT)]))) AS u(s)
         |  WHERE len(w) >= 3)
         |SELECT a.source AS src1, b.source AS src2, CAST(count(*) AS BIGINT) AS n_shared
         |FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q134_gopher_repetition" -> {
      // per n: window grams, count·chars max (top) or >= 2-count coverage
      // char sum (dup); chars of a gram = length(g) − (n−1) separators
      def winsCte(nv: Int): String =
        s"""wins$nv AS (SELECT doc_id, CAST(u.i AS INT) AS ws,
           |    array_to_string(toks[CAST(u.i AS INT) : CAST(u.i + ${nv - 1} AS INT)], ' ') AS g
           |  FROM w, unnest(range(1, len(toks) - $nv + 2)) AS u(i)
           |  WHERE len(toks) >= $nv)""".stripMargin
      def topCte(nv: Int): String =
        s"""top$nv AS (SELECT doc_id, max(c * chars) AS top FROM (
           |  SELECT doc_id, count(*) AS c, length(g) - ${nv - 1} AS chars
           |  FROM wins$nv GROUP BY doc_id, g) GROUP BY doc_id)""".stripMargin
      def covCte(nv: Int): String =
        s"""c$nv AS (SELECT doc_id, g FROM wins$nv GROUP BY doc_id, g HAVING count(*) >= 2),
           |d$nv AS (SELECT ws.doc_id, ws.ws FROM wins$nv ws
           |  JOIN c$nv ON c$nv.doc_id = ws.doc_id AND c$nv.g = ws.g),
           |cov$nv AS (SELECT doc_id, CAST(sum(chars) AS BIGINT) AS dup FROM (
           |  SELECT DISTINCT pos.doc_id, pos.p, pos.chars FROM pos
           |  JOIN d$nv ON d$nv.doc_id = pos.doc_id
           |    AND d$nv.ws <= pos.p AND pos.p < d$nv.ws + $nv)
           |  GROUP BY doc_id)""".stripMargin
      s"""WITH w AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |base AS (SELECT doc_id,
         |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS total FROM w),
         |pos AS (SELECT doc_id, CAST(u.i AS INT) AS p,
         |    length(toks[CAST(u.i AS INT)]) AS chars
         |  FROM w, unnest(range(1, len(toks) + 1)) AS u(i)),
         |${winsCte(2)}, ${topCte(2)},
         |${winsCte(3)}, ${topCte(3)},
         |${winsCte(4)}, ${topCte(4)},
         |${winsCte(5)}, ${covCte(5)},
         |${winsCte(10)}, ${covCte(10)}
         |SELECT b.doc_id, b.total AS total_chars,
         |  round(CAST(coalesce(top2.top, 0) AS DOUBLE) / b.total, 6) AS top2_frac,
         |  round(CAST(coalesce(top3.top, 0) AS DOUBLE) / b.total, 6) AS top3_frac,
         |  round(CAST(coalesce(top4.top, 0) AS DOUBLE) / b.total, 6) AS top4_frac,
         |  round(CAST(coalesce(cov5.dup, 0) AS DOUBLE) / b.total, 6) AS dup5_frac,
         |  round(CAST(coalesce(cov10.dup, 0) AS DOUBLE) / b.total, 6) AS dup10_frac
         |FROM base b
         |LEFT JOIN top2 ON top2.doc_id = b.doc_id
         |LEFT JOIN top3 ON top3.doc_id = b.doc_id
         |LEFT JOIN top4 ON top4.doc_id = b.doc_id
         |LEFT JOIN cov5 ON cov5.doc_id = b.doc_id
         |LEFT JOIN cov10 ON cov10.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin
    },
    "q133_gopher_rules" ->
      // every ratio is one division of exact integer counts; '...' count
      // via non-overlapping replace (left-to-right in both engines)
      s"""WITH w AS (SELECT doc_id, text, $duckTokens AS toks FROM documents),
         |c AS (SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) AS chars,
         |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE) AS alpha,
         |    CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
         |      + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0 AS symbols,
         |    CAST((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
         |      + (CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END)
         |      + (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END)
         |      + (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END)
         |      + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
         |      + (CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END)
         |      + (CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END)
         |      + (CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
         |  FROM w)
         |SELECT doc_id, n_words,
         |  round(chars / n_words, 6) AS mean_word_len,
         |  round(symbols / n_words, 6) AS symbol_ratio,
         |  round(alpha / n_words, 6) AS alpha_frac,
         |  stop_hits,
         |  (n_words BETWEEN 50 AND 100000 AND chars / n_words BETWEEN 3 AND 10
         |   AND symbols / n_words < 0.1 AND alpha / n_words > 0.8
         |   AND stop_hits >= 2) AS kept
         |FROM c ORDER BY doc_id""".stripMargin,
    "q128_salted_join" ->
      // the salt is invisible to the logical result: plain join + the
      // integer-only above-average compare (len·n > tot — no FP division)
      """WITH dim AS (SELECT source, sum(length(text)) AS tot, count(*) AS n
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source,
        |  length(d.text) * dim.n > dim.tot AS above_avg
        |FROM documents d JOIN dim ON dim.source = d.source
        |ORDER BY d.doc_id""".stripMargin,
    "q129_domain_weights" ->
      // replay domainWeights: per-doc 4-dp nll lifted x1e4 to exact
      // integers, per-source/corpus integer sums, excess vs the corpus
      // mean, eps-floored x1e6 integer normalizer — every cross-row sum
      // integer (order-free), every division once on identical integers
      s"""WITH $unigramNllCtes,
         |pd AS (SELECT n.doc_id, dm.source,
         |    CAST(round(n.nll * 1e4, 0) AS BIGINT) AS ni
         |  FROM nllt n JOIN documents dm ON dm.doc_id = n.doc_id),
         |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(ni) AS BIGINT) AS s FROM pd GROUP BY source),
         |g AS (SELECT CAST(sum(s) AS BIGINT) AS gs,
         |    CAST(sum(n_docs) AS BIGINT) AS gn FROM ps),
         |e AS (SELECT source, n_docs,
         |    CAST(s AS DOUBLE) / (1e4 * n_docs) AS snll,
         |    greatest(0.0, CAST(s AS DOUBLE) / (1e4 * n_docs)
         |      - CAST(g.gs AS DOUBLE) / (1e4 * g.gn)) AS excess
         |  FROM ps CROSS JOIN g),
         |ei AS (SELECT source, n_docs, snll, excess,
         |    CAST(round((excess + 0.01) * 1e6, 0) AS BIGINT) AS ei FROM e),
         |t AS (SELECT CAST(sum(ei) AS BIGINT) AS te FROM ei)
         |SELECT source, n_docs, round(snll, 4) AS snll,
         |  round(excess, 6) + 0.0 AS excess,
         |  round(CAST(ei.ei AS DOUBLE) / t.te, 6) AS weight
         |FROM ei CROSS JOIN t ORDER BY source""".stripMargin,
    "q130_repeated_ngrams" ->
      s"""WITH w AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |g AS (SELECT doc_id, array_to_string(
         |    toks[CAST(u.i AS INT) : CAST(u.i + 7 AS INT)], ' ') AS ngram
         |  FROM w, unnest(range(1, len(toks) - 8 + 2)) AS u(i)
         |  WHERE len(toks) >= 8)
         |SELECT ngram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occ
         |FROM g GROUP BY ngram HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY ngram""".stripMargin,
    "q131_span_decontam" ->
      // q124's coverage replay with the dup flag swapped for benchmark
      // membership: benchmark docs (doc_id % 50 = 0) contribute distinct
      // 8-window hashes; corpus tokens are cut iff covered by a benchmark
      // window and by no clean window
      s"""WITH w0 AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |bw AS (SELECT DISTINCT md5(array_to_string(
         |    toks[CAST(u.i AS INT) : CAST(u.i + 7 AS INT)], ' ')) AS wh
         |  FROM w0, unnest(range(1, len(toks) - 8 + 2)) AS u(i)
         |  WHERE doc_id % 50 = 0 AND len(toks) >= 8),
         |w AS (SELECT doc_id, toks FROM w0 WHERE doc_id % 50 <> 0),
         |wins AS (SELECT doc_id, CAST(u.i AS INT) AS ws,
         |    md5(array_to_string(toks[CAST(u.i AS INT) : CAST(u.i + 7 AS INT)], ' ')) AS wh
         |  FROM w, unnest(range(1, len(toks) - 8 + 2)) AS u(i)
         |  WHERE len(toks) >= 8),
         |fl AS (SELECT wins.doc_id, wins.ws, bw.wh IS NOT NULL AS bad
         |  FROM wins LEFT JOIN bw ON bw.wh = wins.wh),
         |pos AS (SELECT doc_id, CAST(u.i AS INT) AS p, toks[CAST(u.i AS INT)] AS t
         |  FROM w, unnest(range(1, len(toks) + 1)) AS u(i)),
         |cov AS (SELECT pos.doc_id, pos.p, pos.t,
         |    coalesce(bool_or(NOT fl.bad), false) AS good,
         |    coalesce(bool_or(fl.bad), false) AS hasbad
         |  FROM pos LEFT JOIN fl ON fl.doc_id = pos.doc_id
         |    AND fl.ws <= pos.p AND pos.p < fl.ws + 8
         |  GROUP BY pos.doc_id, pos.p, pos.t)
         |SELECT doc_id,
         |  coalesce(array_to_string(
         |    list(t ORDER BY p) FILTER (WHERE good OR NOT hasbad), ' '), '') AS clean,
         |  CAST(count(*) FILTER (WHERE NOT (good OR NOT hasbad)) AS BIGINT) AS n_removed
         |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q122_line_dedup" ->
      // replay the line construction (10-token body lines + banner on every
      // 3rd doc + footer on every 2nd), then the boilerplate verdict: a
      // trimmed-identical line in >= 5 distinct docs is dropped everywhere,
      // survivors keep document order; an all-boilerplate doc yields ''
      s"""WITH w0 AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |b AS (SELECT doc_id, array_to_string(list_transform(
         |    range(0, 1 + (len(toks) - 1) // 10),
         |    i -> array_to_string(toks[i*10+1 : i*10+10], ' ')), chr(10)) AS body FROM w0),
         |w AS (SELECT doc_id, concat_ws(chr(10),
         |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today' END,
         |    body,
         |    CASE WHEN doc_id % 2 = 0 THEN 'all rights reserved example footer' END) AS text
         |  FROM b),
         |ls AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM w),
         |l AS (SELECT doc_id, CAST(u.i AS INT) AS pos, lines[CAST(u.i AS INT)] AS line
         |  FROM ls, unnest(range(1, len(lines) + 1)) AS u(i)),
         |h AS (SELECT doc_id, pos, line, md5(trim(line)) AS lh FROM l),
         |v AS (SELECT lh FROM (
         |  SELECT lh, count(DISTINCT doc_id) AS nd FROM h GROUP BY lh) WHERE nd >= 5)
         |SELECT h.doc_id, coalesce(array_to_string(
         |    list(h.line ORDER BY h.pos) FILTER (WHERE v.lh IS NULL), chr(10)), '') AS clean
         |FROM h LEFT JOIN v USING (lh)
         |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin,
    "q123_bigram_ppl" ->
      // replay bigramLogLoss: transition pairs, add-one-smoothed
      // p(tok|prev) over the corpus vocabulary, per-doc mean -ln p as the
      // q101 exact integer sum (order-free; single division + final round)
      s"""WITH w AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |pr AS (SELECT doc_id, toks[CAST(u.i - 1 AS INT)] AS prev,
         |    toks[CAST(u.i AS INT)] AS tok
         |  FROM w, unnest(range(2, len(toks) + 1)) AS u(i)
         |  WHERE len(toks) >= 2),
         |bc AS (SELECT prev, tok, CAST(count(*) AS DOUBLE) AS bc FROM pr GROUP BY 1, 2),
         |cc AS (SELECT prev, CAST(count(*) AS DOUBLE) AS cc FROM pr GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM (
         |  SELECT unnest(toks) AS tok FROM w))
         |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
         |  round(CAST(sum(CAST(round(round(-ln((bc.bc + 1) / (cc.cc + v.v)), 6) * 1e6, 0) AS BIGINT)) AS DOUBLE)
         |    / (1e6 * count(*)), 4) AS nll
         |FROM pr p JOIN bc USING (prev, tok) JOIN cc USING (prev) CROSS JOIN v
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    "q124_span_dedup" ->
      // replay removeDuplicateSpans: 10-token window hashes, lexicographic
      // first occurrence canonical, token kept iff covered by a canonical
      // window or by no duplicate window; short docs carry no windows
      s"""WITH w AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |wins AS (SELECT doc_id, CAST(u.i AS INT) AS ws,
         |    md5(array_to_string(toks[CAST(u.i AS INT) : CAST(u.i + 9 AS INT)], ' ')) AS wh
         |  FROM w, unnest(range(1, len(toks) - 10 + 2)) AS u(i)
         |  WHERE len(toks) >= 10),
         |fl AS (SELECT doc_id, ws,
         |    row_number() OVER (PARTITION BY wh ORDER BY doc_id, ws) > 1 AS dup FROM wins),
         |pos AS (SELECT doc_id, CAST(u.i AS INT) AS p, toks[CAST(u.i AS INT)] AS t
         |  FROM w, unnest(range(1, len(toks) + 1)) AS u(i)),
         |cov AS (SELECT pos.doc_id, pos.p, pos.t,
         |    coalesce(bool_or(NOT fl.dup), false) AS good,
         |    coalesce(bool_or(fl.dup), false) AS hasdup
         |  FROM pos LEFT JOIN fl ON fl.doc_id = pos.doc_id
         |    AND fl.ws <= pos.p AND pos.p < fl.ws + 10
         |  GROUP BY pos.doc_id, pos.p, pos.t)
         |SELECT doc_id,
         |  coalesce(array_to_string(
         |    list(t ORDER BY p) FILTER (WHERE good OR NOT hasdup), ' '), '') AS clean,
         |  CAST(count(*) FILTER (WHERE NOT (good OR NOT hasdup)) AS BIGINT) AS n_removed
         |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q125_url_curation" ->
      """WITH m AS (SELECT doc_id,
        |  'https://www.' || source || '.example.' ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END ||
        |    '/p/' || CAST(doc_id AS VARCHAR) || '?ref=crawl' AS url
        | FROM documents),
        |p AS (SELECT doc_id,
        |  regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^https?://[^/?#]+(/[^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS query
        | FROM m)
        |SELECT doc_id, host, path, query,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
        |  (host = 'example.org' OR host LIKE '%.example.org'
        |   OR host = 'src3.example.com' OR host LIKE '%.src3.example.com') AS blocked
        |FROM p ORDER BY doc_id""".stripMargin,
    "q127_blocklist_scan" -> {
      val terms = Seq("join", "hash", "spark", "window", "scan")
      val counts = terms.map(t =>
        s"(length(text) - length(replace(text, '$t', ''))) / ${t.length}").mkString(" + ")
      s"""SELECT doc_id, CAST($counts AS BIGINT) AS n_matches,
         |  ($counts) = 0 AS kept
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q126_nfc_normalize" ->
      """WITH w AS (SELECT doc_id,
        |  text || ' cafe' || chr(769) || ' u' || chr(776) || 'ber' AS dirty
        | FROM documents)
        |SELECT doc_id, nfc_normalize(dirty) AS norm,
        |  CAST(length(dirty) - length(nfc_normalize(dirty)) AS BIGINT) AS n_composed
        |FROM w ORDER BY doc_id""".stripMargin,
    "q155_source_langs" ->
      // ordered-aggregation twin of array_sort(collect_set(...)):
      // string_agg over a DISTINCT subquery with an explicit ORDER BY
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  (SELECT string_agg(l, ',' ORDER BY l) FROM
        |    (SELECT DISTINCT lang AS l FROM documents i
        |     WHERE i.source = d.source) t) AS langs
        |FROM documents d GROUP BY source ORDER BY source""".stripMargin,
    "q156_winsorize" ->
      // quantile_cont ≡ Spark exact interpolated percentile (q83); ntile is
      // SQL-standard (larger groups first) on both engines
      """WITH p AS (SELECT source, quantile_cont(n_chars, 0.05) AS lo,
        |    quantile_cont(n_chars, 0.95) AS hi FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source,
        |  round(least(greatest(CAST(d.n_chars AS DOUBLE), lo), hi), 4) AS n_chars_w,
        |  CAST(ntile(10) OVER (PARTITION BY d.source
        |    ORDER BY d.n_chars, d.doc_id) AS BIGINT) AS decile
        |FROM documents d JOIN p USING (source) ORDER BY d.doc_id""".stripMargin,
    "q157_edit_near_dup" ->
      // identical blocking (first token, 40-prefix len band, boilerplate
      // blocks past the 10000 cap dropped) + plain levenshtein — DuckDB
      // has no banded variant, same value ≤ the bound
      """WITH k0 AS (SELECT doc_id, substr(text, 1, 40) AS key,
        |    split_part(text, ' ', 1) AS w1,
        |    CAST(floor(length(substr(text, 1, 40)) / 8) AS BIGINT) AS band
        |  FROM documents WHERE length(text) > 0),
        |bc AS (SELECT w1, band FROM k0 GROUP BY w1, band
        |  HAVING count(*) <= 10000),
        |k AS (SELECT k0.* FROM k0 JOIN bc USING (w1, band))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
        |FROM k a JOIN k b ON a.w1 = b.w1 AND a.band = b.band
        |  AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.key, b.key) <= 10
        |ORDER BY a_id, b_id""".stripMargin,
    "q158_shingle_novelty" ->
      s"""WITH t0 AS (SELECT doc_id, $duckTokens AS w FROM documents),
         |s AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(w) - 1),
         |    i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))) AS sh
         |  FROM t0 WHERE len(w) >= 3),
         |m AS (SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY sh)
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  round(CAST(sum(CASE WHEN m.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS novelty
         |FROM s JOIN m USING (sh) GROUP BY s.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    "q161_mutual_knn" ->
      s"""WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
         |pr AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    a.embedding AS qv, b.embedding AS cv
         |  FROM v a JOIN v b ON a.vec_id != b.vec_id),
         |scored AS (SELECT query_id, vec_id, $cosSql AS cos FROM pr),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id) AS rk FROM scored),
         |top AS (SELECT query_id, vec_id, cos FROM ranked WHERE rk <= 5)
         |SELECT t1.query_id AS a, t1.vec_id AS b, t1.cos AS cos
         |FROM top t1 JOIN top t2
         |  ON t1.query_id = t2.vec_id AND t1.vec_id = t2.query_id
         |WHERE t1.query_id < t1.vec_id
         |ORDER BY a, b""".stripMargin,
    "q162_token_entropy" ->
      // q101's integer-lift recipe: 6-dp rounded ln terms ×1e6 as exact
      // integers, summed order-free, one division + one final round
      s"""WITH tk AS (SELECT doc_id, unnest($duckTokens) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM tk GROUP BY 1, 2),
         |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
         |t AS (SELECT c.doc_id, c.c, n.n,
         |    CAST(round(round(ln(CAST(c.c AS DOUBLE) / n.n), 6) * 1e6, 0)
         |      AS BIGINT) AS it
         |  FROM c JOIN n USING (doc_id))
         |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
         |  round(-CAST(sum(c * it) AS DOUBLE) / (1e6 * max(n)), 4) AS entropy
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q163_source_cosine" ->
      s"""WITH c AS (SELECT source AS src, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest($duckTokens) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |nrm AS (SELECT src, CAST(sum(c * c) AS BIGINT) AS n2 FROM c GROUP BY 1),
         |d AS (SELECT x.src AS src_a, y.src AS src_b,
         |    CAST(sum(x.c * y.c) AS BIGINT) AS dot
         |  FROM c x JOIN c y ON x.tok = y.tok AND x.src < y.src
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b,
         |  round(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6) AS cos
         |FROM d JOIN nrm a ON a.src = d.src_a JOIN nrm b ON b.src = d.src_b
         |ORDER BY src_a, src_b""".stripMargin,
    "q165_weighted_sample" ->
      // Efraimidis-Spirakis key replayed exactly: u = (md5_32 + 1)/2^32,
      // key = round(-ln(u)/weight, 9), k smallest per group, id tie-break
      """WITH k AS (SELECT doc_id, source,
        |    round(-ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) + 1.0) / 4294967296.0)
        |      / CAST(n_chars AS DOUBLE), 9) AS key
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
        |  FROM k)
        |SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "q167_containment" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(w) - 3),
        |    i -> concat(w[i],' ',w[i+1],' ',w[i+2],' ',w[i+3],' ',w[i+4])))) AS tok
        |  FROM w WHERE len(w) >= 5),
        |f AS (SELECT tok, count(*) AS n FROM sh GROUP BY tok),
        |kept AS (SELECT sh.doc_id, sh.tok FROM sh JOIN f USING (tok)
        |  WHERE f.n <= 50),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM kept GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id != b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(inter AS DOUBLE) / s.sz, 6) AS containment
        |FROM pr JOIN sz s ON s.doc_id = pr.doc_a
        |WHERE round(CAST(inter AS DOUBLE) / s.sz, 6) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q168_interleave" ->
      """WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |  FROM documents GROUP BY 1),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
        |  FROM documents),
        |k AS (SELECT doc_id, source, CAST(r.r AS DOUBLE) / n.n_s AS frac, r.r
        |  FROM r JOIN n USING (source))
        |SELECT doc_id, source,
        |  CAST(row_number() OVER (ORDER BY frac, source, r) - 1 AS BIGINT) AS pos
        |FROM k ORDER BY doc_id""".stripMargin,
    "q174_zipf_slope" ->
      s"""WITH c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest($duckTokens) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |t AS (SELECT source,
         |    CAST(round(round(ln(CAST(row_number() OVER w AS DOUBLE)), 6) * 1e6, 0) AS BIGINT) AS x,
         |    CAST(round(round(ln(CAST(c AS DOUBLE)), 6) * 1e6, 0) AS BIGINT) AS y,
         |    CAST(round(round(ln(CAST(row_number() OVER w AS DOUBLE)), 6)
         |      * round(ln(CAST(c AS DOUBLE)), 6) * 1e6, 0) AS BIGINT) AS xy,
         |    CAST(round(round(ln(CAST(row_number() OVER w AS DOUBLE)), 6)
         |      * round(ln(CAST(row_number() OVER w AS DOUBLE)), 6) * 1e6, 0) AS BIGINT) AS xx
         |  FROM c WINDOW w AS (PARTITION BY source ORDER BY c DESC, tok ASC)),
         |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(xy) AS BIGINT) AS sxy, CAST(sum(xx) AS BIGINT) AS sxx
         |  FROM t GROUP BY source HAVING count(*) >= 2)
         |SELECT source,
         |  round((n * CAST(sxy AS DOUBLE) * 1e-6
         |      - (CAST(sx AS DOUBLE) * 1e-6) * (CAST(sy AS DOUBLE) * 1e-6))
         |    / (n * CAST(sxx AS DOUBLE) * 1e-6
         |      - (CAST(sx AS DOUBLE) * 1e-6) * (CAST(sx AS DOUBLE) * 1e-6)),
         |    4) AS slope
         |FROM s ORDER BY source""".stripMargin,
    "q175_pmi_bigrams" ->
      s"""WITH w0 AS (SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents),
         |bg AS (SELECT unnest(list_transform(range(1, len(w)),
         |    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS p
         |  FROM w0 WHERE len(w) >= 2),
         |big AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS cxy
         |  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
         |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(w) AS tok FROM w0) GROUP BY 1),
         |scal AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS ntok,
         |    (SELECT CAST(count(*) AS DOUBLE) FROM bg) AS nbig),
         |scored AS (SELECT b.w1, b.w2, b.cxy,
         |    round(ln((CAST(b.cxy AS DOUBLE) / nbig)
         |      / ((CAST(u1.c AS DOUBLE) / ntok) * (CAST(u2.c AS DOUBLE) / ntok))), 4) AS pmi
         |  FROM big b JOIN uni u1 ON u1.tok = b.w1
         |    JOIN uni u2 ON u2.tok = b.w2 CROSS JOIN scal),
         |ranked AS (SELECT *, CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT rk, w1, w2, cxy, pmi FROM ranked WHERE rk <= 20
         |ORDER BY rk""".stripMargin,
    "q177_array_hofs" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    round(list_sum(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))), 4) AS l1
        |  FROM embeddings WHERE vec_id < 100),
        |p AS (SELECT vec_id, l1, CAST(u.i - 1 AS BIGINT) AS pos,
        |    round(abs(CAST(embedding[u.i] AS DOUBLE)), 6) AS a
        |  FROM e, unnest(range(1, len(embedding) + 1)) AS u(i)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
        |    ORDER BY a DESC, pos ASC) AS BIGINT) AS rk FROM p)
        |SELECT vec_id, rk, pos, a, l1 FROM r WHERE rk <= 3
        |ORDER BY vec_id, rk""".stripMargin,
    "q184_ivf_recall" ->
      // the exact side is replayable; the IVF overlap only via its
      // certified floor (the q99 sketch-envelope pattern)
      """SELECT DISTINCT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "q189_url_dedup" ->
      // identical URL synthesis + canonicalization chain (fragment, case,
      // www, default port, trailing slash, tracking-param strip with
      // literal starts_with, sorted rejoin), then min-id keeper per canon
      """WITH u AS (SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'https://www.' || source ||
        |      '.example.com:443/p/' || CAST(doc_id // 4 AS BIGINT) ||
        |      '/?utm_source=x&page=2#f'
        |    WHEN 1 THEN 'HTTPS://' || upper(source) ||
        |      '.EXAMPLE.COM/p/' || CAST(doc_id // 4 AS BIGINT) || '/'
        |    WHEN 2 THEN 'https://' || source ||
        |      '.example.com/p/' || CAST(doc_id // 4 AS BIGINT) || '?ref=crawl'
        |    ELSE 'https://' || source ||
        |      '.example.com/p/' || CAST(doc_id // 4 AS BIGINT) END AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nf FROM u),
        |s1b AS (SELECT doc_id, url, nf,
        |    regexp_replace(lower(regexp_extract(nf,
        |      '(?i)^(https?://[^/?#]*)', 1)), '://www\.', '://') AS nww
        |  FROM s1),
        |s2 AS (SELECT doc_id, url,
        |    CASE WHEN starts_with(nww, 'http://')
        |        THEN regexp_replace(nww, ':80$', '')
        |      WHEN starts_with(nww, 'https://')
        |        THEN regexp_replace(nww, ':443$', '')
        |      ELSE nww END AS pre,
        |    regexp_extract(nf, '(?i)^https?://[^/?#]*(.*)', 1) AS rest
        |  FROM s1b),
        |s3 AS (SELECT doc_id, url, pre,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/$', '') AS path,
        |    CASE WHEN rest LIKE '%?%'
        |      THEN regexp_extract(rest, '\?(.*)$', 1) ELSE '' END AS q
        |  FROM s2),
        |s4 AS (SELECT doc_id,
        |    CASE WHEN pre = '' THEN url ELSE
        |      pre || path || (CASE WHEN qs != '' THEN '?' || qs ELSE '' END)
        |    END AS canon
        |  FROM (SELECT doc_id, url, pre, path,
        |      array_to_string(list_sort(list_filter(string_split(q, '&'),
        |        p -> p != '' AND NOT starts_with(p, 'utm_')
        |          AND NOT starts_with(p, 'ref=')
        |          AND NOT starts_with(p, 'fbclid=')
        |          AND NOT starts_with(p, 'gclid='))), '&') AS qs
        |    FROM s3)),
        |k AS (SELECT canon, min(doc_id) AS keep FROM s4 GROUP BY canon)
        |SELECT s4.doc_id, s4.canon, s4.doc_id = k.keep AS kept
        |FROM s4 JOIN k USING (canon) ORDER BY s4.doc_id""".stripMargin,
    "q188_ivfpq_envelope" ->
      // the replayable side: the query count; the composition's pruning
      // loss only via its certified floor (the q184 envelope pattern)
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  TRUE AS ivfpq_envelope_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    "q187_ivf_index_roundtrip" ->
      // the replayable side: every query recovers exactly k rows and the
      // store round-trip is invisible (the q119 envelope pattern)
      """SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_rows,
        |  TRUE AS store_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "q241_ivf_index_append" ->
      // the replayable side: every query recovers k rows through the
      // appended store, and the engine-verified content facts (row
      // conservation, frozen-cell assignment, no phantom centroids) pin
      // TRUE — any append corruption flips a boolean and hash-mismatches
      """SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_rows,
        |  TRUE AS store_ok, TRUE AS append_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "q242_ivf_drift_rebuild" ->
      // the replayable side: the fixed-size construction conserves its
      // 250 rows and the engine-verified lifecycle facts (healthy recall,
      // drift detected + rebuild triggered, centroids re-derived, recall
      // restored) pin TRUE — any watchdog/rebuild regression flips a
      // boolean and hash-mismatches
      """SELECT CAST(200 + 50 AS BIGINT) AS n_idx, TRUE AS healthy_ok,
        |  TRUE AS drift_detected, TRUE AS recentered,
        |  TRUE AS rebuild_restored
        |FROM (SELECT 1) WHERE (SELECT count(*) FROM embeddings
        |  WHERE vec_id < 200) = 200""".stripMargin,
    "q185_mutual_knn_ivf" ->
      // q161's exact mutual-kNN machinery reduced to its edge count (the
      // replayable side); the confined path only via its certified floor
      s"""WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
         |pr AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    a.embedding AS qv, b.embedding AS cv
         |  FROM v a JOIN v b ON a.vec_id != b.vec_id),
         |scored AS (SELECT query_id, vec_id, $cosSql AS cos FROM pr),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id) AS rk FROM scored),
         |top AS (SELECT query_id, vec_id FROM ranked WHERE rk <= 5)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
         |FROM top t1 JOIN top t2
         |  ON t1.query_id = t2.vec_id AND t1.vec_id = t2.query_id
         |WHERE t1.query_id < t1.vec_id""".stripMargin,
    "q190_unimax_alloc" ->
      s"""WITH $unimaxAllocCtes
         |SELECT lang, n_w, capped,
         |  CASE WHEN n_w > 0 THEN round(b_w / n_w, 6) ELSE 0.0 END AS epochs,
         |  round(b_w, 4) AS budget_w
         |FROM aa ORDER BY lang""".stripMargin,
    "q191_unimax_epochs" ->
      s"""WITH $unimaxEpochsCtes
         |SELECT doc_id, lang, n_epochs FROM ne
         |ORDER BY doc_id""".stripMargin,
    "q199_unimax_train_order" ->
      s"""WITH $unimaxEpochsCtes,
         |inst AS (SELECT doc_id, CAST(u.r AS BIGINT) AS rep
         |  FROM ne, unnest(range(0, n_epochs)) AS u(r) WHERE n_epochs > 0)
         |SELECT doc_id, rep,
         |  CAST(row_number() OVER (ORDER BY
         |    md5('epoch0:' || CAST(doc_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)),
         |    doc_id, rep) - 1 AS BIGINT) AS pos
         |FROM inst ORDER BY pos""".stripMargin,
    "q192_sq8_topk" -> sq8TopKSql,
    "q197_sq8_index_roundtrip" ->
      // the stored path is bit-identical to the direct one, so the SAME
      // fully-replayed chain is its oracle — a hash-level store-roundtrip
      // proof, stronger than the q187 row-count envelope
      sq8TopKSql,
    "q198_ivfsq8_envelope" ->
      // the replayable side: the query count; the composition's pruning
      // loss only via its certified floor (the q188 envelope pattern)
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  TRUE AS ivfsq8_envelope_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    "q231_ivfsq8_adaptive" ->
      // the q198 envelope form; the floor certifies the mass-adaptive
      // probing rule holds ≥ 50% overlap at every shipped SF
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  TRUE AS adaptive_envelope_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    "q238_ivf_index_adaptive" ->
      // the q231 envelope form on the PERSISTED-index path: the floor
      // certifies rule-chosen probes hold ≥ 50% overlap vs the exact
      // ranking at every shipped SF with the assignment never recomputed
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  TRUE AS index_adaptive_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    "q193_trunc_rerank" ->
      // coarse cosine on dims 1..8 → 50-deep shortlist → exact rerank;
      // both stages 6-dp-rounded and id-tie-broken so the funnel
      // boundary replays exactly
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |pr AS (SELECT q.query_id, e.vec_id, q.qe[1:8] AS qv, e.embedding[1:8] AS cv,
         |    q.qe, e.embedding AS ce
         |  FROM embeddings e CROSS JOIN q),
         |coarse AS (SELECT query_id, vec_id, qe, ce, $cosSql AS cos_p FROM pr),
         |short AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_p DESC, vec_id) AS prk FROM coarse) WHERE prk <= 50),
         |ex AS (SELECT query_id, vec_id, qe AS qv, ce AS cv FROM short),
         |scored AS (SELECT query_id, vec_id, $cosSql AS cos FROM ex),
         |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id) AS INT) AS rk FROM scored)
         |SELECT query_id, vec_id, rk, cos FROM ranked WHERE rk <= 10
         |ORDER BY query_id, rk""".stripMargin,
    "q194_token_drift" ->
      // add-one smoothing over the union vocab; the two ln calls are
      // 6-dp-rounded before downstream arithmetic (the q101 fixed-point
      // rule); ranking on the exact |p_a - p_b| doubles
      s"""WITH wa AS (SELECT unnest($duckTokens) AS tok FROM documents WHERE doc_id % 2 = 0),
         |wb AS (SELECT unnest($duckTokens) AS tok FROM documents WHERE doc_id % 2 = 1),
         |ca AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_a FROM wa GROUP BY tok),
         |cb AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_b FROM wb GROUP BY tok),
         |j AS (SELECT tok, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
         |  FROM ca FULL JOIN cb USING (tok)),
         |t AS (SELECT CAST(sum(n_a) AS DOUBLE) AS t_a, CAST(sum(n_b) AS DOUBLE) AS t_b,
         |    CAST(count(*) AS DOUBLE) AS v FROM j),
         |p AS (SELECT tok, n_a, n_b, (n_a + 1.0) / (t_a + v) AS p_a,
         |    (n_b + 1.0) / (t_b + v) AS p_b FROM j CROSS JOIN t),
         |s AS (SELECT *, (p_a + p_b) / 2.0 AS m FROM p),
         |js AS (SELECT tok, n_a, n_b, p_a, p_b,
         |    round(0.5 * p_a * round(ln(p_a / m), 6)
         |      + 0.5 * p_b * round(ln(p_b / m), 6), 9) AS js FROM s),
         |r AS (SELECT *, CAST(row_number() OVER (ORDER BY abs(p_a - p_b) DESC, tok) AS BIGINT) AS rk FROM js)
         |SELECT rk, tok, n_a, n_b, round(p_a, 9) AS p_a, round(p_b, 9) AS p_b, js
         |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "q195_source_attribution" ->
      // the q55 pair chain, each pair attributed to its (least, greatest)
      // source pair; mean jaccard in integer micro-units (order-free sum)
      s"""WITH $minhashPairsSql,
         |sp AS (SELECT least(d1.source, d2.source) AS src_a,
         |    greatest(d1.source, d2.source) AS src_b,
         |    CAST(round(p.jaccard * 1e6, 0) AS BIGINT) AS mj
         |  FROM mhp p
         |  JOIN documents d1 ON d1.doc_id = p.doc1
         |  JOIN documents d2 ON d2.doc_id = p.doc2)
         |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(CAST(sum(mj) AS DOUBLE) / (1e6 * count(*)), 6) AS mean_jac
         |FROM sp GROUP BY src_a, src_b
         |ORDER BY src_a, src_b""".stripMargin,
    "q196_rank_blend" ->
      // percentile = (rank − 1)/(n − 1), rank by (value, doc_id); the
      // 6-dp-rounded percentiles are the blend's inputs on both engines
      s"""WITH nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |r1 AS (SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY CAST(n_chars AS DOUBLE), doc_id) AS BIGINT) AS r
         |  FROM documents),
         |r2 AS (SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY CAST(len($duckTokens) AS DOUBLE), doc_id) AS BIGINT) AS r
         |  FROM documents),
         |p AS (SELECT r1.doc_id,
         |    round((r1.r - 1) / (nn.n - 1.0), 6) AS chars_pct,
         |    round((r2.r - 1) / (nn.n - 1.0), 6) AS toks_pct
         |  FROM r1 JOIN r2 USING (doc_id) CROSS JOIN nn)
         |SELECT doc_id, chars_pct, toks_pct,
         |  floor((CAST(round(chars_pct * 1e6, 0) AS BIGINT)
         |    + CAST(round(toks_pct * 1e6, 0) AS BIGINT)) / 2.0 + 0.5) / 1e6 AS blend
         |FROM p ORDER BY doc_id""".stripMargin,
    "q179_regexp" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[aeiou]{2,}')) AS BIGINT) AS n_vv,
        |  regexp_extract(text, '[a-z]{6,}') AS first_long,
        |  regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q201_suffix_dup" ->
      // identical strided-suffix chain: positions 1, 5, 9, … (stride 4),
      // suffixes truncated to 8 tokens, bucketed on the 5-token seed with
      // the 50-suffix cap BEFORE the sort, adjacent-pair match length via
      // monotone prefix equality (count of equal prefixes IS the max)
      s"""WITH t AS (SELECT doc_id, $duckTokens AS toks FROM documents),
         |b AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 5),
         |sfx AS (SELECT doc_id, CAST(u.p AS BIGINT) AS p,
         |    toks[CAST(u.p AS INT):CAST(u.p AS INT) + 7] AS sfx
         |  FROM b, unnest(range(1, len(toks) - 3, 4)) AS u(p)),
         |k AS (SELECT doc_id, p, sfx,
         |    array_to_string(sfx[1:5], ' ') AS span,
         |    array_to_string(sfx, ' ') AS key FROM sfx),
         |c AS (SELECT *, count(*) OVER (PARTITION BY span) AS bn FROM k),
         |f AS (SELECT * FROM c WHERE bn <= 50),
         |l AS (SELECT *, lag(sfx) OVER w AS prev_sfx, lag(doc_id) OVER w AS prev_doc
         |  FROM f WINDOW w AS (PARTITION BY span ORDER BY key, doc_id, p)),
         |m AS (SELECT span, doc_id,
         |    CASE WHEN prev_doc IS NOT NULL AND prev_doc != doc_id THEN
         |      5 + len(list_filter(range(6, 9), j ->
         |        j <= least(len(sfx), len(prev_sfx))
         |        AND sfx[1:CAST(j AS INT)] = prev_sfx[1:CAST(j AS INT)]))
         |    END AS match_len FROM l),
         |a AS (SELECT span, CAST(count(*) AS BIGINT) AS n_occ,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(max(match_len) AS BIGINT) AS dup_len
         |  FROM m GROUP BY span
         |  HAVING count(DISTINCT doc_id) >= 2 AND max(match_len) IS NOT NULL),
         |r AS (SELECT *, CAST(row_number() OVER (ORDER BY dup_len DESC, span) AS BIGINT) AS rk FROM a)
         |SELECT rk, span, dup_len, n_docs, n_occ FROM r WHERE rk <= 20
         |ORDER BY rk""".stripMargin,
    "q202_script_mix" ->
      // identical homoglyph/code-switch synthesis, then per-class counts
      // as length deltas around global regexp_replace; dominant ties
      // Latin > Cyrillic > Greek; confusables = tokens matching BOTH
      // Latin and Cyrillic letter classes
      """WITH mu AS (SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT)
        |      WHEN 1 THEN translate(text, 'aeopcxy', 'аеорсху')
        |      WHEN 2 THEN text || ' αλφα βητα 42'
        |      ELSE text END AS text
        |  FROM documents),
        |c AS (SELECT doc_id, text,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
        |    CAST(length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS n_cyr,
        |    CAST(length(text) - length(regexp_replace(text, '[Ͱ-Ͽ]', '', 'g')) AS BIGINT) AS n_greek,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
        |  FROM mu),
        |p AS (SELECT doc_id, n_latin, n_cyr, n_greek, n_digit,
        |    n_latin + n_cyr + n_greek AS letters,
        |    greatest(n_latin, n_cyr, n_greek) AS dn,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      tk -> regexp_matches(tk, '[A-Za-z]') AND regexp_matches(tk, '[Ѐ-ӿ]'))) AS BIGINT) AS confusable_words
        |  FROM c)
        |SELECT doc_id, n_latin, n_cyr, n_greek, n_digit,
        |  CASE WHEN letters = 0 THEN 'none'
        |    WHEN n_latin = dn THEN 'latin'
        |    WHEN n_cyr = dn THEN 'cyrillic'
        |    ELSE 'greek' END AS dominant,
        |  CASE WHEN letters = 0 THEN 0.0
        |    ELSE round(1.0 - CAST(dn AS DOUBLE) / letters, 6) END AS mix_ratio,
        |  confusable_words
        |FROM p ORDER BY doc_id""".stripMargin,
    "q203_domain_tilt" ->
      // per-domain and corpus mean nll in integer micro-units (q101 rule),
      // 6-dp excess → 6-dp-rounded exp tilt clipped to [0.5, 2] → raw
      // share·tilt renormalized in nano-units
      s"""WITH $unigramNllCtes,
         |dm AS (SELECT doc_id, source AS domain FROM documents),
         |j AS (SELECT n.doc_id, d.domain,
         |    CAST(round(n.nll * 1e6, 0) AS BIGINT) AS mnll
         |  FROM nllt n JOIN dm d USING (doc_id)),
         |pd AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |    round(CAST(sum(mnll) AS DOUBLE) / (1e6 * count(*)), 6) AS mean_nll
         |  FROM j GROUP BY domain),
         |cp AS (SELECT round(CAST(sum(mnll) AS DOUBLE) / (1e6 * count(*)), 6) AS corpus_nll,
         |    CAST(count(*) AS DOUBLE) AS n_total FROM j),
         |tl AS (SELECT domain, n_docs, mean_nll,
         |    round(mean_nll - corpus_nll, 6) AS excess FROM pd CROSS JOIN cp),
         |tt AS (SELECT *, least(greatest(round(exp(1.0 * excess), 6), 0.5), 2.0) AS tilt FROM tl),
         |rw AS (SELECT tt.*, round(CAST(n_docs AS DOUBLE) / cp.n_total * tilt, 9) AS raw
         |  FROM tt CROSS JOIN cp),
         |z AS (SELECT sum(CAST(round(raw * 1e9, 0) AS BIGINT)) AS zz FROM rw)
         |SELECT domain, n_docs, mean_nll, excess, tilt,
         |  round(round(raw * 1e9, 0) / CAST(z.zz AS DOUBLE), 6) AS weight
         |FROM rw CROSS JOIN z ORDER BY domain""".stripMargin,
    "q204_fertility" ->
      // the shared BPE train+apply chain rolled up per language; wordless
      // docs contribute zero via the LEFT JOIN coalesce (the q111 rule)
      s"""WITH $bpeEncodeAggCtes
         |SELECT d.lang AS "group", CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(coalesce(a.n_words, 0)) AS BIGINT) AS n_words,
         |  CAST(sum(coalesce(a.n_bpe, 0)) AS BIGINT) AS n_bpe,
         |  CASE WHEN sum(coalesce(a.n_words, 0)) > 0
         |    THEN round(CAST(sum(coalesce(a.n_bpe, 0)) AS DOUBLE)
         |      / sum(coalesce(a.n_words, 0)), 6) ELSE 0.0 END AS fertility,
         |  CASE WHEN sum(coalesce(a.n_bpe, 0)) > 0
         |    THEN round(CAST(sum(coalesce(a.n_chars, 0)) AS DOUBLE)
         |      / sum(coalesce(a.n_bpe, 0)), 6) ELSE 0.0 END AS chars_per_sym
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |GROUP BY d.lang ORDER BY "group"""".stripMargin,
    "q205_stream_near_dedup" ->
      // the replayable side of streaming SimHash dedup: the DISTINCT
      // signature set (which doc survives per signature is arrival order —
      // stream-only; the set is deterministic, the q100 rule)
      s"""WITH $simhashSql
         |SELECT DISTINCT simhash FROM sh ORDER BY simhash""".stripMargin,
    "q206_cluster_outliers" ->
      // the q94 Lloyd chain + one FINAL assign round against c3 (the
      // operator assigns with the fitted centroids), nano-unit integer
      // moments (the q144 HUGEINT rule), z's signed zero canonicalized
      s"""WITH ${kmeansCtes(k = 8, iters = 3, dim = 64)},
         |df4 AS (SELECT v.vec_id, c.cl,
         |    round(list_sum(list_transform(range(1, 65),
         |      i -> (v.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) * (v.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 9) AS dist
         |  FROM v CROSS JOIN c3 c),
         |af AS (SELECT vec_id, cl, dist FROM (
         |    SELECT vec_id, cl, dist, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cl) AS rn FROM df4) WHERE rn = 1),
         |di AS (SELECT vec_id, cl, dist,
         |    CAST(round(dist * 1e9, 0) AS BIGINT) AS d9 FROM af),
         |st AS (SELECT cl, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(d9) AS HUGEINT) AS s1,
         |    sum(CAST(d9 AS HUGEINT) * d9) AS s2 FROM di GROUP BY cl),
         |jz AS (SELECT di.vec_id, di.cl, di.dist,
         |    CAST(st.s1 AS DOUBLE) / (1e9 * st.n) AS mu,
         |    sqrt(greatest(0.0, CAST(st.s2 AS DOUBLE) / (1e18 * st.n)
         |      - (CAST(st.s1 AS DOUBLE) / (1e9 * st.n)) * (CAST(st.s1 AS DOUBLE) / (1e9 * st.n)))) AS sigma
         |  FROM di JOIN st USING (cl))
         |SELECT vec_id, cl AS cluster, dist,
         |  CASE WHEN sigma > 0 THEN round((dist - mu) / sigma, 6) + 0.0
         |    ELSE 0.0 END AS z,
         |  CASE WHEN sigma > 0 THEN round((dist - mu) / sigma, 6) > 2.0
         |    ELSE FALSE END AS is_outlier
         |FROM jz ORDER BY vec_id""".stripMargin,
    "q207_rendezvous_shards" ->
      // identical md5(key:s) candidates; winner via (h DESC, s DESC) —
      // the operator's array_max over (h, s) structs replays as row_number
      """WITH cand AS (SELECT doc_id, CAST(u.s AS BIGINT) AS s,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(u.s AS VARCHAR)) AS h
        |  FROM documents, unnest(range(0, 9)) AS u(s)),
        |r8 AS (SELECT doc_id, s AS shard8 FROM (
        |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY h DESC, s DESC) AS rn
        |    FROM cand WHERE s < 8) WHERE rn = 1),
        |r9 AS (SELECT doc_id, s AS shard9 FROM (
        |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY h DESC, s DESC) AS rn
        |    FROM cand) WHERE rn = 1)
        |SELECT r8.doc_id, shard8, shard9, shard8 != shard9 AS moved
        |FROM r8 JOIN r9 USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q208_leakfree_split" ->
      // the q69 bucket rule (205 buckets -> 'cc'), 3-token shingles by
      // portable md5-prefix hash (the q55 tid rule), leak = train shingle
      // hash present in the holdout distinct set
      """WITH sp AS (SELECT doc_id, text,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'cc'
        |      THEN 'train' ELSE 'holdout' END AS split
        |  FROM documents),
        |w0 AS (SELECT doc_id, split, string_split_regex(trim(text), '\s+') AS w FROM sp),
        |shq AS (SELECT doc_id, split, unnest(list_distinct(list_transform(
        |    range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')))) AS s
        |  FROM w0 WHERE len(w) >= 3),
        |tid AS (SELECT doc_id, split,
        |    CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS tid FROM shq),
        |ho AS (SELECT DISTINCT tid FROM tid WHERE split = 'holdout'),
        |lk AS (SELECT DISTINCT doc_id FROM tid
        |  WHERE split = 'train' AND tid IN (SELECT tid FROM ho))
        |SELECT sp.doc_id, sp.split,
        |  lk.doc_id IS NOT NULL AS leaky,
        |  (sp.split = 'train' AND lk.doc_id IS NULL) AS kept_train
        |FROM sp LEFT JOIN lk USING (doc_id) ORDER BY sp.doc_id""".stripMargin,
    "q209_distinct_ngrams" ->
      // NON-distinct trigram occurrences hashed to md5-prefix ids (the q55
      // tid rule), per-(group, tid) counts, then the two-level rollup
      """WITH w AS (SELECT source, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (SELECT source, unnest(list_transform(range(1, len(w) - 1),
        |    i -> array_to_string(w[i:i+2], ' '))) AS ng
        |  FROM w WHERE len(w) >= 3),
        |h AS (SELECT source,
        |    CAST(concat('0x', substr(md5(ng), 1, 8)) AS BIGINT) AS tid FROM g),
        |pg AS (SELECT source, tid, CAST(count(*) AS BIGINT) AS c
        |  FROM h GROUP BY 1, 2)
        |SELECT source AS "group", CAST(sum(c) AS BIGINT) AS n_ngrams,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_ratio
        |FROM pg GROUP BY source ORDER BY "group"""".stripMargin
  )
}
