package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Relevance / weighting operators for corpus pipelines: TF-IDF term tables
  * and BM25 query scoring. Spark-first shapes:
  *
  *   - corpus-level scalars (N, document frequencies, average doc length)
  *     are single-row aggregates attached by a broadcast cross join — never
  *     a global window;
  *   - per-document term frequencies for a FIXED query term list are pure
  *     per-row array expressions (no explode), so BM25 scoring adds zero
  *     shuffles beyond the one-row scalar broadcast;
  *   - the TF-IDF table is the classic explode → (doc, term) count →
  *     term-level document-frequency join, all hash-partitioned by term.
  */
object Scoring {

  /** TF-IDF term table: (doc_id, tok, tf, df, tfidf) with the smooth idf
    * ln((N+1)/(df+1)) + 1 (never zero, defined for every df ≤ N).
    */
  def tfidf(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val docFreq = toks.distinct().groupBy("tok").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    tf.join(docFreq, "tok" :: Nil)
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1.0), 6).as("tfidf"))
  }

  /** Unigram language-model negative log-likelihood per document — the
    * C4/CCNet-style perplexity quality filter: fit unigram probabilities on
    * the corpus itself (count(t)/total), score each document by the mean
    * token -ln p(t). High nll = rare-token-heavy (noisy/off-domain) text;
    * pipelines threshold or resample on it.
    *
    * Scale shape: one explode feeds both the term-partitioned count
    * aggregate and the scoring join on `tok` (map-side combine on the
    * count; no broadcast assumption on the vocabulary — AQE picks the join
    * strategy); the corpus total is a one-row broadcast. Engine-portable
    * rounding: per-token logprob to 6 dp, lifted to an exact ×1e6 integer
    * and SUMMED as integers (order-free), divided once by 1e6·n and rounded
    * once to 4 dp — `avg` of the rounded doubles would re-introduce an
    * aggregation-order dependence at 4-dp half-ties (the q102 driver red).
    *
    * Returns (doc_id, n_tokens, nll), one row per document with >= 1 token.
    */
  /** Materialize the tokenized corpus ONCE for the LM operators whose
    * model-building and scoring branches each re-scan and re-tokenize it
    * (guide §5 caching rule: reused ≥ 2×, recompute = the hot tokenize
    * map; VERDICT r18 #9). Measured by the r19 crossover probe
    * (OPTIMIZATION_r19.md, lm10: interleaved min-of-3, bigram shape):
    * materialized 0.96× of rescan at gate scale and 0.90× at the ×10
    * replicated arm — the win GROWS with scale because every saved branch
    * is a full corpus pass. Tradeoff: the local checkpoint lives in
    * executor block storage (memory, spilling to local disk); a token
    * table larger than that storage spills, and a lost executor loses
    * blocks the lineage can no longer recompute, failing the query.
    */
  private def lmTokenTable(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("toks")).localCheckpoint(true)

  def unigramLogLoss(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = lmTokenTable(df, textCol, idCol)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).cast("double").as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    toks.join(counts, "tok" :: Nil)
      .crossJoin(broadcast(total))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        round(
          sum(round(round(-log(col("cnt") / col("total")), 6) * 1e6, 0).cast("long"))
            .cast("double") / (lit(1e6) * count(lit(1)).cast("double")),
          4).as("nll"))
  }

  /** Bigram-LM perplexity — the next step up the n-gram ladder from
    * [[unigramLogLoss]] toward the 5-gram KenLM filters CCNet-style
    * pipelines run: fit p(tok | prev) = (c(prev,tok) + 1) / (c(prev) + V)
    * on the corpus itself (add-one smoothed over the corpus vocabulary V),
    * score each document by the mean −ln p over its token TRANSITIONS.
    * Context-aware: a doc of common tokens in an unusual ORDER scores high
    * where the unigram model sees nothing wrong. Documents with < 2 tokens
    * have no transitions and are excluded — route them separately.
    *
    * Scale shape: one pass builds the transition pairs natively (indexed
    * `transform` + explode — no UDF, no self-join of the token table);
    * bigram and context counts are term-partitioned aggregates with
    * map-side combine; the vocabulary size rides a one-row broadcast; the
    * scoring joins key on (prev, tok) / prev with no broadcast assumption
    * on the vocabulary (AQE picks the strategy). Same order-free integer
    * sum as [[unigramLogLoss]]: per-transition logprob rounded to 6 dp,
    * lifted ×1e6 to exact integers, summed, divided once, rounded once.
    *
    * Returns (doc_id, n_transitions, nll), one row per doc with ≥ 2 tokens.
    */
  def bigramLogLoss(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withToks = lmTokenTable(df, textCol, idCol) // 3 consumers: model, vocab, scoring
    val pairs = withToks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(2), size(col("toks"))),
        i => struct(element_at(col("toks"), i - 1).as("prev"),
          element_at(col("toks"), i).as("tok")))).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.tok").as("tok"))
    val bigram = pairs.groupBy("prev", "tok").agg(count(lit(1)).cast("double").as("bc"))
    // c(prev) = Σ_tok c(prev,tok): derived from the (small) bigram-type
    // table, not by a second aggregate over the (large) transition table —
    // and attached to it before scoring, so the transition table pays ONE
    // join on (prev, tok) instead of one per model column
    val model = bigram.join(
      bigram.groupBy("prev").agg(sum("bc").as("cc")), Seq("prev"))
    val vocab = withToks.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("v"))
    pairs.join(model, Seq("prev", "tok"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_transitions"),
        round(
          sum(round(round(-log((col("bc") + 1.0) / (col("cc") + col("v"))), 6) * 1e6, 0).cast("long"))
            .cast("double") / (lit(1e6) * count(lit(1)).cast("double")),
          4).as("nll"))
  }

  /** Interpolated trigram-LM perplexity — the next rung after
    * [[bigramLogLoss]] toward the 5-gram KenLM filters: score each token
    * transition by the λ-mixture of trigram, bigram, and unigram
    * probabilities (add-one smoothing on the conditional models),
    *   p = λ₃·(c(w₁w₂w₃)+1)/(c(w₁w₂)+V) + λ₂·(c(w₂w₃)+1)/(c(w₂)+V) + λ₁·c(w₃)/N,
    * per-doc mean −ln p over transitions. Interpolation is what makes a
    * higher-order model usable — an unseen trigram backs off smoothly
    * instead of cratering to the uniform floor. Docs with < 3 tokens have
    * no transitions and are excluded.
    *
    * Scale shape: one pass builds indexed transition triples natively;
    * the three count models are term-partitioned aggregates (the bigram
    * and unigram models derive from the trigram table where marginals
    * allow); scoring joins hit the transition table once per model
    * granularity. Mixture arithmetic is a fixed-order 3-term sum of
    * single-division probabilities, and the per-transition logs are
    * rounded + integer-lifted before the cross-row mean — the q101/q123
    * portability contract.
    *
    * Returns (doc_id, n_transitions, nll), one row per doc with ≥ 3 tokens.
    */
  def trigramLogLoss(df: DataFrame, textCol: String, idCol: String,
      l3: Double = 0.5, l2: Double = 0.3, l1: Double = 0.2): DataFrame = {
    val withToks = lmTokenTable(df, textCol, idCol) // 4 consumers: c3/scoring, pairs, unis
    val tri = withToks.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(3), size(col("toks"))),
        i => struct(element_at(col("toks"), i - 2).as("w1"),
          element_at(col("toks"), i - 1).as("w2"),
          element_at(col("toks"), i).as("w3")))).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
    val c3 = tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).cast("double").as("c3"))
    val ctx3 = c3.groupBy("w1", "w2").agg(sum("c3").as("cc3"))
    // bigram/unigram models over the FULL token stream (not just trigram
    // transitions), so short docs still contribute mass
    val toks = withToks.select(col("doc_id"), col("toks"))
    val pairs = toks.filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(2), size(col("toks"))),
        i => struct(element_at(col("toks"), i - 1).as("w2"),
          element_at(col("toks"), i).as("w3")))).as("p"))
      .select(col("p.w2").as("w2"), col("p.w3").as("w3"))
    val c2 = pairs.groupBy("w2", "w3").agg(count(lit(1)).cast("double").as("c2"))
    val ctx2 = c2.groupBy("w2").agg(sum("c2").as("cc2"))
    val unis = toks.select(explode(col("toks")).as("w3"))
    val c1 = unis.groupBy("w3").agg(count(lit(1)).cast("double").as("c1"))
    val scal = c1.agg(sum("c1").as("n"),
      countDistinct(col("w3")).cast("double").as("v"))
    tri
      .join(c3, Seq("w1", "w2", "w3"), "left").join(ctx3, Seq("w1", "w2"), "left")
      .join(c2, Seq("w2", "w3"), "left").join(ctx2, Seq("w2"), "left")
      .join(c1, Seq("w3"))
      .crossJoin(broadcast(scal))
      .withColumn("p",
        lit(l3) * (coalesce(col("c3"), lit(0.0)) + 1.0)
            / (coalesce(col("cc3"), lit(0.0)) + col("v"))
          + lit(l2) * (coalesce(col("c2"), lit(0.0)) + 1.0)
            / (coalesce(col("cc2"), lit(0.0)) + col("v"))
          + lit(l1) * col("c1") / col("n"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_transitions"),
        round(
          sum(round(round(-log(col("p")), 6) * 1e6, 0).cast("long"))
            .cast("double") / (lit(1e6) * count(lit(1)).cast("double")),
          4).as("nll"))
  }

  /** DSIR-style importance score per document: the mean per-token log
    * ratio ln p_target(t) − ln p_corpus(t) between a target-domain unigram
    * LM (rows matching `targetFilter`) and the whole-corpus unigram LM,
    * add-one smoothed over the corpus vocabulary. Positive = looks like
    * the target domain; pipelines resample with probability ∝ exp(score)
    * or keep the top fraction — the data-selection step that upweights
    * target-like documents inside a heterogeneous crawl.
    *
    * Scale shape: one explode feeds both LM count aggregates (term-
    * partitioned, map-side combined) and the scoring join on `tok`; the
    * three corpus scalars (totals, vocabulary size) ride a one-row
    * broadcast.
    *
    * Portability: each per-token log term is rounded to 6 dp and then
    * lifted to an exact integer (×1e6) BEFORE aggregation, so the per-doc
    * mean is an exact integer sum divided once — `avg` of rounded doubles
    * is a floating sum in partition order, and a doc whose exact mean sits
    * on a 4-dp half-tie can round differently per aggregation order (the
    * round-6 driver red). Integer sums are order-free; the single division
    * and final 4-dp rounding are then identical on any IEEE engine.
    *
    * Returns (doc_id, n_tokens, ilr), one row per document with ≥ 1 token.
    */
  def importanceLogRatio(df: DataFrame, textCol: String, idCol: String,
      targetFilter: Column): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      col(textCol).as("__text"), targetFilter.as("__tgt"))
      .select(col("doc_id"), col("__tgt"),
        explode(TextFunctions.tokens(col("__text"))).as("tok"))
    val corpus = toks.groupBy("tok").agg(count(lit(1)).cast("double").as("cc"))
    val target = toks.filter(col("__tgt")).groupBy("tok")
      .agg(count(lit(1)).cast("double").as("tc"))
    val scalars = corpus.agg(sum("cc").as("ctot"),
        count(lit(1)).cast("double").as("v"))
      .crossJoin(broadcast(target.agg(coalesce(sum("tc"), lit(0.0)).as("ttot"))))
    toks.join(corpus, "tok" :: Nil)
      .join(target, "tok" :: Nil, "left")
      .crossJoin(broadcast(scalars))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        round(
          sum(
            round(round(log((coalesce(col("tc"), lit(0.0)) + 1.0) / (col("ttot") + col("v"))), 6) * 1e6, 0).cast("long") -
            round(round(log((col("cc") + 1.0) / (col("ctot") + col("v"))), 6) * 1e6, 0).cast("long")
          ).cast("double") / (lit(1e6) * count(lit(1)).cast("double")),
          4).as("ilr"))
  }

  /** BM25 scores of every document against a fixed term list.
    *
    * Returns (doc_id, score) for documents matching ≥ 1 term. Term
    * contributions are summed in the literal order of `terms` (a fixed
    * expression, not a row aggregate) so the floating-point result is
    * deterministic and engine-reproducible.
    */
  def bm25(df: DataFrame, textCol: String, idCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = TextFunctions.tokens(col(textCol))
    def tfOf(t: String): Column = size(filter(toks, x => x === t)).cast("double")

    val withTf = df.select(
      col(idCol).as("doc_id") +: size(toks).cast("double").as("dl") +:
        terms.zipWithIndex.map { case (t, i) => tfOf(t).as(s"tf_$i") }: _*)
    // corpus scalars: N, Σdl, per-term document frequencies — one row,
    // broadcast. avgdl is derived as sumDl/N in one explicit division so
    // both engines compute the identical double.
    val scalarCols = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i => sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val scalars = withTf.agg(scalarCols.head, scalarCols.tail: _*)

    val scored = withTf.crossJoin(broadcast(scalars))
    val avgdl = col("sum_dl") / col("n_docs")
    val norm = col("dl") / avgdl
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i")
      val idf = log(lit(1.0) + (col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5))
      idf * (tf * (k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * norm))
    }.reduce(_ + _)
    scored
      .filter(terms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col("doc_id"), round(score, 6).as("score"))
  }

  /** Trainable quality classifier: logistic regression fit by FULL-BATCH
    * gradient descent, distributed and deterministic — the fastText-style
    * "train a small model on weak labels, score the whole corpus" curation
    * step, expressed so any engine replaying the recipe gets bit-identical
    * scores (the DuckDB oracle unrolls the iterations as CTEs, the q94
    * kmeans technique).
    *
    * Recipe, in lockstep with the oracle: w₀ = 0; each iteration computes
    * per-row p = round(σ(w·x), 6), per-component gradient
    * gⱼ = round(avg((p − y)·xⱼ), 6), then wⱼ ← round(wⱼ − lr·gⱼ, 6). The
    * roundings make transcendental last-ulp and distributed-sum-order
    * differences unobservable, exactly as kmeans' 6-decimal means do.
    *
    * Scale: each iteration is ONE codegen'd aggregate over the pinned
    * (id, y, x…) projection with the weights inlined as literals — no
    * shuffle of the corpus, no per-row UDF; only the d-vector gradient
    * reaches the driver per iteration (model state, bytes). Scoring is one
    * more codegen'd projection. The pin (localCheckpoint) guarantees the
    * fit and the returned scores see the same rows even over a
    * non-deterministic upstream.
    *
    * Storage note: the pin's blocks back the RETURNED frame, so they stay
    * live until a driver GC lets the weak-ref ContextCleaner fire. A
    * long-lived session that has fully materialized the scores can release
    * them eagerly with `GraftSqlBridge.releaseCheckpoint(scored)` (the
    * returned frame is a thin projection over the pin, which that call
    * resolves); the frame must not be scanned again afterwards.
    *
    * @param features engine-portable numeric expressions (include an
    *   explicit `lit(1.0)` bias term if wanted)
    * @param label 1.0/0.0 expression (the weak label)
    * @return ((id, y, score) per row — score = σ(w_final·x) rounded to
    *   6 dp — and the fitted weights. A SINGLE rounding: round-twice
    *   (6 then 4 dp) puts ~1% of rows exactly on a 4-dp half-way tie,
    *   where Java's shortest-repr BigDecimal and a multiply-based C round
    *   legitimately disagree; one rounding of the continuous sigmoid has
    *   only ulp-level boundary risk.)
    */
  def logisticFitScore(df: DataFrame, idCol: String, features: Seq[Column],
      label: Column, iters: Int = 3, lr: Double = 0.5): (DataFrame, Array[Double]) = {
    require(features.nonEmpty, "logisticFitScore needs at least one feature")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val d = features.length
    val pinned = df.select(
      col(idCol).as("id") +: label.cast("double").as("y") +:
        features.zipWithIndex.map { case (f, i) => f.cast("double").as(s"x$i") }: _*)
      .localCheckpoint(true)

    var w = Array.fill(d)(0.0)
    for (_ <- 1 to iters) {
      val z = (0 until d).map(i => col(s"x$i") * lit(w(i))).reduce(_ + _)
      val p = round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
      val gradCols = (0 until d).map(i =>
        round(avg((p - col("y")) * col(s"x$i")), 6).as(s"g$i"))
      val g = pinned.agg(gradCols.head, gradCols.tail: _*).head()
      w = Array.tabulate(d) { i =>
        BigDecimal(w(i) - lr * g.getDouble(i))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val zF = (0 until d).map(i => col(s"x$i") * lit(w(i))).reduce(_ + _)
    val scored = pinned.select(col("id"), col("y"),
      round(lit(1.0) / (lit(1.0) + exp(-zF)), 6).as("score"))
    (scored, w)
  }

  /** Per-document out-of-vocabulary rate against the corpus's own top-`k`
    * token vocabulary — the tokenizer-coverage diagnostic run before
    * committing to a vocab size (what fraction of each document would
    * fall to UNK/byte-fallback?). Vocabulary rank is deterministic:
    * count DESC, then token ASC on ties.
    *
    * Scale shape: one explode feeds the vocab count aggregate (map-side
    * combined); the top-k cut is a TakeOrdered-sized result that rides a
    * broadcast into the per-doc anti-membership count — the corpus is
    * scanned twice, shuffled only on the token type table, never on
    * documents.
    *
    * Returns (doc_id, n_tokens, n_oov, oov_rate).
    */
  def oovRate(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"vocab size k must be >= 1, got $k")
    val toks = df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(k).select("tok")
    toks.join(broadcast(vocab.withColumn("__in", lit(true))), Seq("tok"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** Gopher quality-rule bundle (Rae et al. 2021, Appendix A1.1) — the
    * published heuristic filter most large-corpus pipelines start from:
    * word count in [50, 100000], mean word length in [3, 10],
    * symbol-to-word ratio ('#' and '…'-as-'...') below 0.1, over 80% of
    * words containing an alphabetic character, and at least 2 of the 8
    * canonical stop words present. Emits every signal plus the AND
    * verdict, so a pipeline can re-threshold without recomputing.
    *
    * Scale shape: pure per-row projection — one corpus scan, zero
    * shuffles, all signals from one tokens array inside whole-stage
    * codegen. Portability: each ratio is one division of exact integer
    * counts (occurrence counts via non-overlapping replace, identical
    * left-to-right in any engine), so thresholds compare identical
    * doubles; rounding happens only on the emitted copy.
    *
    * Returns (doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
    * stop_hits, kept).
    */
  def gopherRules(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val text = col(textCol)
    val toks = TextFunctions.tokens(text)
    val n = size(toks).cast("long")
    val chars = aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
    val alpha = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
    val symbols =
      (length(text) - length(replace(text, lit("#"), lit("")))).cast("double") +
        (length(text) - length(replace(text, lit("..."), lit("")))).cast("double") / 3.0
    val stopHits = stops.map(w => when(array_contains(toks, lit(w)), 1L).otherwise(0L))
      .reduce(_ + _)
    val mwl = chars.cast("double") / n
    val sr = symbols / n
    val af = alpha.cast("double") / n
    df.select(col(idCol).as("doc_id"), n.as("n_words"),
      round(mwl, 6).as("mean_word_len"),
      round(sr, 6).as("symbol_ratio"),
      round(af, 6).as("alpha_frac"),
      stopHits.as("stop_hits"),
      (n.between(50L, 100000L) && mwl.between(3.0, 10.0) && sr < 0.1 &&
        af > 0.8 && stopHits >= 2).as("kept"))
  }

  /** DoReMi-style domain mixture weights (Xie et al. 2023, reduced to the
    * statistic a data pipeline can compute without training a proxy model):
    * per-domain EXCESS LOSS against the whole-corpus reference, normalized
    * into sampling weights. Domains whose documents the corpus-fit unigram
    * LM finds surprising (high mean −ln p, i.e. under-represented token
    * distributions) get upweighted; domains at or below the reference get
    * the `eps` floor so no domain starves.
    *
    *   excess(s) = max(0, nll(s) − nll(corpus))
    *   weight(s) = (excess(s) + eps) / Σ_s' (excess(s') + eps)
    *
    * Engine portability: the per-doc nll is [[unigramLogLoss]]'s order-free
    * integer sum rounded to 4 dp; per-domain and corpus means re-lift those
    * 4-dp values to exact integers (×1e4) so every cross-row sum is integer
    * and order-free; the weight normalizer likewise sums integer-lifted
    * (×1e6) excesses. Every division happens once, on identical integers.
    *
    * Scale shape: one corpus pass for the LM + per-doc nll (inherited from
    * [[unigramLogLoss]]); the domain aggregate is map-side combined on the
    * domain key; the reference mean and the weight normalizer are one-row
    * broadcasts. Domain count is the only driver-side cardinality and it is
    * the output size.
    *
    * Returns (source, n_docs, snll, excess, weight) — one row per domain.
    */
  def domainWeights(df: DataFrame, textCol: String, idCol: String,
      domainCol: String, eps: Double = 0.01): DataFrame = {
    require(eps > 0, s"eps must be > 0 so every domain keeps sampling mass, got $eps")
    val perDoc = unigramLogLoss(df, textCol, idCol)
      .join(df.select(col(idCol).as("doc_id"), col(domainCol).as("source")), Seq("doc_id"))
      .select(col("source"), round(col("nll") * 1e4, 0).cast("long").as("ni"))
    val perDom = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("ni").as("s"))
    val ref = perDom.agg(sum("s").as("gs"), sum("n_docs").as("gn"))
    val scored = perDom.crossJoin(broadcast(ref))
      .withColumn("snll", col("s").cast("double") / (lit(1e4) * col("n_docs")))
      .withColumn("excess", greatest(lit(0.0),
        col("snll") - col("gs").cast("double") / (lit(1e4) * col("gn"))))
      .withColumn("ei", round((col("excess") + lit(eps)) * 1e6, 0).cast("long"))
    val norm = scored.agg(sum("ei").as("te"))
    scored.crossJoin(broadcast(norm))
      .select(col("source"), col("n_docs"),
        round(col("snll"), 4).as("snll"),
        // + 0.0 canonicalizes a possible −0.0 from greatest(0.0, −0.0)
        (round(col("excess"), 6) + lit(0.0)).as("excess"),
        round(col("ei").cast("double") / col("te"), 6).as("weight"))
  }

  /** Per-document shingle novelty: the fraction of a document's distinct
    * k-token shingles whose corpus-wide FIRST occurrence (minimum doc id) is
    * this document — 1.0 means entirely novel text, 0.0 means every phrase
    * already appeared in an earlier document. The incremental-crawl
    * diagnostic behind "how much of this batch is genuinely new" reports and
    * novelty-weighted sampling (later near-copies of templated text score
    * near 0 long before full-duplicate detection fires).
    *
    * Scale shape: one shingle explode feeds a map-side-combined min
    * aggregate on the shingle, joined back on the same key — both sides
    * hash-partitioned by shingle, then one aggregate by doc. Exact integer
    * count ratio rounded once: aggregation-order-free. Documents with fewer
    * than k tokens have no shingles and are absent from the result.
    */
  def shingleNovelty(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame = {
    val shingles = Dedup.shingleSet(df, textCol, idCol, k)
    // two independent aggregates over the shingle table, then a DOC-level
    // join: per-doc shingle counts, and per-doc counts of shingles it
    // introduced (min-doc per shingle, re-grouped by that doc). The
    // big string-keyed table shuffles twice and is never joined back on
    // the shingle — the join keys are doc ids (was: a 3rd full shuffle of
    // the shingle strings through a tok-keyed join; 1.8 s → 0.8 s sf0.1).
    val perDoc = shingles.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val introduced = shingles.groupBy("tok").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_first"))
    perDoc.join(introduced, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        round(coalesce(col("n_first"), lit(0L)).cast("double")
          / col("n_shingles"), 6).as("novelty"))
  }

  /** Per-document Shannon entropy of the token distribution, in nats —
    * the lexical-diversity signal: boilerplate and keyword-stuffed spam
    * concentrate mass on few tokens (low entropy), natural prose spreads it.
    * Complements the Gopher repetition fractions (q134) with a single
    * scale-free number.
    *
    * H = −(1/n) Σ_t c_t·ln(c_t/n) over distinct tokens t. Engine-portable
    * arithmetic (the q101 recipe): each distinct token's log-probability is
    * rounded to 6 dp and lifted to an exact ×1e6 integer; the Σ c_t·term
    * sum is pure integer (order-free); one division and one final 4-dp
    * round. One explode, two map-side-combined aggregates, zero windows.
    */
  def tokenEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val term = counts
      .withColumn("n", sum("c").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .withColumn("it",
        round(round(log(col("c").cast("double") / col("n")), 6) * 1e6, 0)
          .cast("long"))
    term.groupBy("doc_id")
      .agg(max("n").as("n_tokens"),
        sum(col("c") * col("it")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("s").cast("double") / (lit(1e6) * col("n_tokens")), 4)
          .as("entropy"))
  }

  /** Source-pair similarity matrix by token-count cosine: for every pair of
    * groups (a < b), the cosine of their term-frequency vectors — the
    * corpus-composition report ("which sources are near-mirrors / which add
    * genuinely different text") that complements q139's shared-shingle
    * counts with magnitude-aware similarity. All-integer dot products and
    * squared norms (exact, order-free), one final rounded division.
    *
    * Scale shape: per-token join work is ≤ C(#groups, 2) per token — the
    * (group, token) count table is the join input, never doc×doc.
    */
  def sourceTokenCosine(df: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("src"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("src", "tok").agg(count(lit(1)).as("c"))
    val norms = counts.groupBy("src").agg(sum(col("c") * col("c")).as("n2"))
    val dots = counts.as("x").join(counts.as("y"), "tok" :: Nil)
      .where(col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("src_a"), col("y.src").as("src_b"))
      .agg(sum(col("x.c") * col("y.c")).as("dot"))
    dots
      .join(broadcast(norms.select(col("src").as("src_a"), col("n2").as("n2a"))), Seq("src_a"))
      .join(broadcast(norms.select(col("src").as("src_b"), col("n2").as("n2b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"),
        round(col("dot").cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))), 6)
          .as("cos"))
  }

  /** Per-group Zipf slope: the least-squares slope of ln(frequency) against
    * ln(rank) over the group's token frequency table — natural text sits
    * near −1; machine-generated/templated text (flat head) and
    * keyword-stuffed spam (cliff) deviate, making the slope a cheap
    * corpus-level quality/anomaly signal per source or per crawl snapshot.
    *
    * Portability: ranks are exact integers (frequency desc, token asc
    * tie-break); each ln() term and each product is rounded to 6 dp and
    * lifted to an exact ×1e6 integer, so all five OLS sums are order-free
    * integer sums; the closed-form slope is then a handful of IEEE doubles
    * from identical integers. Rounded to 4 dp.
    */
  def zipfSlope(df: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("grp"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      .orderBy(col("c").desc, col("tok").asc)
    def lift(e: Column): Column = round(round(e, 6) * 1e6, 0).cast("long")
    val terms = counts.withColumn("r", row_number().over(w))
      .select(col("grp"),
        lift(log(col("r").cast("double"))).as("x"),
        lift(log(col("c").cast("double"))).as("y"),
        lift(round(log(col("r").cast("double")), 6) *
          round(log(col("c").cast("double")), 6)).as("xy"),
        lift(round(log(col("r").cast("double")), 6) *
          round(log(col("r").cast("double")), 6)).as("xx"))
    terms.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum("xy").as("sxy"), sum("xx").as("sxx"))
      // a single-distinct-token group has zero rank variance (n·sxx = sx²):
      // the slope is 0/0 — NULL in Spark, NaN under DuckDB float division.
      // No line fits one point; exclude the group on both engines.
      .where(col("n") >= 2)
      .select(col("grp"),
        round((col("n") * col("sxy").cast("double") * 1e-6 -
          (col("sx").cast("double") * 1e-6) * (col("sy").cast("double") * 1e-6)) /
          (col("n") * col("sxx").cast("double") * 1e-6 -
            (col("sx").cast("double") * 1e-6) * (col("sx").cast("double") * 1e-6)),
          4).as("slope"))
  }

  /** Corpus-level PMI collocations: pointwise mutual information
    * ln(p(xy) / (p(x)·p(y))) over consecutive token bigrams — the
    * phrase/collocation miner behind tokenizer vocabulary extension and
    * multi-word-expression detection. Only bigrams with count ≥ `minCount`
    * are scored (PMI of rare pairs is noise).
    *
    * Scale shape: transitions are built in-row (indexed transform — no
    * self-join), one map-side-combined count per bigram and per unigram,
    * scalars broadcast. PMI rounded to 4 dp with (w1, w2) tie-break, so
    * the top-k cut is engine-deterministic.
    */
  def pmiBigrams(df: DataFrame, textCol: String,
      minCount: Long = 5, topK: Int = 20): DataFrame = {
    // ordered bigrams WITH multiplicity: tokenNgrams keeps every occurrence
    // (shingleArray is the distinct variant) — tokens are whitespace-split,
    // so the single space inside each bigram splits back unambiguously
    val pairs = df.select(explode(TextFunctions.tokenNgrams(col(textCol), 2)).as("bg"))
      .select(split_part(col("bg"), lit(" "), lit(1)).as("w1"),
        split_part(col("bg"), lit(" "), lit(2)).as("w2"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .where(col("cxy") >= minCount)
    val uni = df.select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    // nBig: total bigram occurrences, a map-side row count over `pairs`.
    // Summing the unfiltered (w1, w2) aggregate instead was measured 0.81×
    // (OPTIMIZATION_r19.md change 11): its exchange is NOT reused, so that
    // form pays a second (w1, w2) hash aggregate
    // (plans/r19/q175_pmi_bigrams_pmi{new,legacy}.txt).
    val nBig = pairs.groupBy().agg(count(lit(1)).cast("double").as("nBig"))
    val scal = uni.agg(sum("c").cast("double").as("nTok")).crossJoin(nBig)
    val scored = big
      .join(uni.select(col("tok").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(scal))
      .select(col("w1"), col("w2"), col("cxy"),
        round(log((col("cxy").cast("double") / col("nBig")) /
          ((col("c1").cast("double") / col("nTok")) *
            (col("c2").cast("double") / col("nTok")))), 4).as("pmi"))
    // top-K via sort+limit (TakeOrderedAndProject — the ≥minCount bigram
    // table is vocabulary²-bounded, not topK-bounded, and an unpartitioned
    // row_number window would rank all of it in ONE task); the rank window
    // then runs over only the topK survivors (the tokenDrift convention).
    val byPmi = Seq(col("pmi").desc, col("w1").asc, col("w2").asc)
    val w = org.apache.spark.sql.expressions.Window.orderBy(byPmi: _*)
    scored.orderBy(byPmi: _*).limit(topK)
      .withColumn("rk", row_number().over(w))
      .select(col("rk").cast("long").as("rk"), col("w1"), col("w2"),
        col("cxy"), col("pmi"))
  }

  /** Winsorize a numeric column at exact per-group quantiles: values below
    * the group's `lo` percentile clamp up to it, above `hi` clamp down —
    * the robust-stats treatment quality/length scores get before feeding
    * mixture weights or z-scores, where a handful of outlier documents
    * would otherwise own the scale.
    *
    * Percentiles are Spark's exact interpolated `percentile` (≡ DuckDB
    * `quantile_cont`), computed per group in one aggregate; the per-group
    * bounds table (2 doubles per group) broadcasts to the clamp join, so
    * the data never shuffles. Appends `<valueCol>_w`, rounded to 4 dp.
    */
  def winsorize(df: DataFrame, valueCol: String, groupCol: String,
      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi, s"bad winsorize bounds [$lo, $hi]")
    val bounds = df.groupBy(groupCol).agg(
      expr(s"percentile($valueCol, $lo)").as("p_lo"),
      expr(s"percentile($valueCol, $hi)").as("p_hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn(s"${valueCol}_w",
        round(least(greatest(col(valueCol).cast("double"), col("p_lo")),
          col("p_hi")), 4))
      .drop("p_lo", "p_hi")
  }

  /** Token-distribution drift between two corpus snapshots (the
    * crawl-over-crawl monitoring stage: which vocabulary moved, and by how
    * much, between last month's crawl and this one). Unigram distributions
    * are add-one smoothed over the UNION vocabulary (so a token present in
    * only one snapshot contributes finitely), and each token is scored by
    * its Jensen–Shannon divergence contribution
    * `½·p·ln(p/m) + ½·q·ln(q/m)`, m = (p+q)/2 — the symmetric,
    * outlier-bounded drift measure (KL would be infinite without the
    * smoothing and asymmetric with it). The top `topN` tokens by |p − q|
    * are returned; Σ js over ALL tokens is the corpus-level JSD if the
    * caller wants one number.
    *
    * Portability: probabilities are exact-integer-derived doubles; the two
    * `ln` calls — the only libm surface — are rounded to 6 dp before the
    * downstream arithmetic (the q101 fixed-point rule), so any engine
    * replays identical rows.
    *
    * Scale: one map-side-combined token count per side, a full-outer join
    * on token (vocabulary-sized, not corpus-sized), scalar totals
    * broadcast; nothing corpus-sized ever shuffles.
    *
    * @return (rk, tok, n_a, n_b, p_a, p_b, js) — rk 1..topN by |p−q| desc
    */
  def tokenDrift(dfA: DataFrame, dfB: DataFrame, textCol: String,
      topN: Int = 20): DataFrame = {
    def cnt(df: DataFrame, out: String) = df
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as(out))
    val joined = cnt(dfA, "n_a").join(cnt(dfB, "n_b"), Seq("tok"), "full_outer")
      .select(col("tok"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val tot = joined.agg(sum("n_a").cast("double").as("t_a"),
      sum("n_b").cast("double").as("t_b"),
      count(lit(1)).cast("double").as("v"))
    val probs = joined.crossJoin(broadcast(tot))
      .withColumn("p_a", (col("n_a") + 1.0) / (col("t_a") + col("v")))
      .withColumn("p_b", (col("n_b") + 1.0) / (col("t_b") + col("v")))
      .withColumn("m", (col("p_a") + col("p_b")) / 2.0)
      .withColumn("js", round(
        lit(0.5) * col("p_a") * round(log(col("p_a") / col("m")), 6) +
          lit(0.5) * col("p_b") * round(log(col("p_b") / col("m")), 6), 9))
    // top-N via sort+limit (TakeOrderedAndProject: per-partition heaps, no
    // single-task window over the whole vocabulary); the rank window then
    // runs over only the topN survivors.
    val byDrift = Seq(abs(col("p_a") - col("p_b")).desc, col("tok").asc)
    val top = probs.orderBy(byDrift: _*).limit(topN)
    val w = org.apache.spark.sql.expressions.Window.orderBy(byDrift: _*)
    top.withColumn("rk", row_number().over(w))
      .select(col("rk").cast("long").as("rk"), col("tok"),
        col("n_a"), col("n_b"),
        round(col("p_a"), 9).as("p_a"), round(col("p_b"), 9).as("p_b"),
        col("js"))
  }

  /** Rank-normalized blending of heterogeneous quality signals — the
    * curation move when raw scores live on incomparable scales (a
    * classifier logit, a perplexity, a length): each signal is converted
    * to its corpus percentile `(rank − 1)/(n − 1)` (rank by (value, id) —
    * fully deterministic under ties) and the blend is the plain mean of
    * percentiles, a scale-free, outlier-immune composite to threshold on.
    *
    * Scale: each signal ranks via [[Packing.groupedRowNumbers]]'s grouped
    * two-phase distributed prefix (group = the whole corpus here — no
    * single-task global window; the measured-small route takes the plain
    * window twin); one equi-join on the id per additional signal; the
    * corpus row count is a broadcast scalar.
    *
    * @param signals (name, expression) per signal; percentiles come back
    *   as `<name>_pct` (6 dp) plus the equal-weight `blend`
    */
  def rankBlend(df: DataFrame, idCol: String,
      signals: Seq[(String, Column)], partitions: Int = 0): DataFrame = {
    require(signals.nonEmpty, "rankBlend needs at least one signal")
    val nTab = df.agg(count(lit(1)).cast("double").as("__n"))
    val pcts = signals.map { case (name, sig) =>
      val ranked = Packing.groupedRowNumbers(
        df.select(col(idCol), sig.cast("double").as("__v")),
        Nil, Seq("__v", idCol), partitions)
      val pct = when(col("__n") > 1.0,
        (col("rank") - 1).cast("double") / (col("__n") - 1.0)).otherwise(0.0)
      ranked.crossJoin(broadcast(nTab))
        .select(col(idCol), round(pct, 6).as(s"${name}_pct"))
    }
    val joined = pcts.reduce((a, b) => a.join(b, idCol :: Nil))
    // fixed-point blend: a floating mean of 6-dp percentiles rounded back
    // to decimals can land EXACTLY on a .5 tie, where engines' half rules
    // disagree (HALF_UP vs half-even; observed at sf0.01 with S = 2).
    // Summing integer micro-units and taking ⌊sum/S + 0.5⌋ keeps every
    // step an exact IEEE op — deterministic for ANY signal count
    val microSum = signals.map { case (name, _) =>
      round(col(s"${name}_pct") * 1e6, 0).cast("long")
    }.reduce(_ + _)
    joined.withColumn("blend",
      floor(microSum.cast("double") / signals.length + 0.5)
        .cast("double") / 1e6)
  }

  /** Distinct-n-gram diversity per corpus slice — the distinct-n metric
    * (Li et al. 2016; Zhu et al. 2018 report it as corpus diversity):
    * |distinct n-grams| / |n-gram occurrences| per group. Low ratios mark
    * templated/repetitive slices (synthetic-data mode collapse, mirror-
    * heavy crawls) that per-doc repetition scores miss because the
    * repetition lives ACROSS documents.
    *
    * Scale shape: n-grams explode once and immediately reduce to
    * (group, md5-prefix hash) counts — the exchange carries 8-byte hashes
    * with map-side combine, never n-gram strings; the per-group rollup is
    * a second map-side-combined aggregate over |groups| keys. Ratio is one
    * exact-long division rounded once.
    *
    * @return (group, n_ngrams, n_distinct, distinct_ratio) — docs shorter
    *         than `n` tokens contribute nothing.
    */
  def distinctNgramRatio(df: DataFrame, textCol: String, groupCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    df.select(col(groupCol).as("group"),
        explode(graft.functions.TextFunctions.tokenNgrams(col(textCol), n))
          .as("ng"))
      .select(col("group"), Dedup.portableTokenId(col("ng")).as("tid"))
      .groupBy("group", "tid").agg(count(lit(1)).as("c"))
      .groupBy("group").agg(
        sum("c").as("n_ngrams"),
        count(lit(1)).as("n_distinct"),
        round(count(lit(1)).cast("double") / sum("c").cast("double"), 6)
          .as("distinct_ratio"))
  }

  /** Writing-system profile + homoglyph-spoofing signal — the script-level
    * step under language ID: which Unicode scripts a document mixes, and
    * whether Latin and Cyrillic CONFUSABLES co-occur inside single words
    * (the classic spam/evasion trick — "pаypal" with a Cyrillic а — and a
    * crawl-noise marker language-ID models misroute on). Per document:
    *
    *   - `n_latin` / `n_cyr` / `n_greek` / `n_digit`: character counts per
    *     class, each a `length` difference around one `regexp_replace`
    *     (global in both engines) — no explode, no UDF;
    *   - `dominant`: the majority letter script, ties Latin > Cyrillic >
    *     Greek (deterministic), `"none"` for letterless docs;
    *   - `mix_ratio`: 1 − dominant/letters rounded to 6 dp — 0 for pure
    *     docs, the mixing fraction otherwise;
    *   - `confusable_words`: tokens containing BOTH a Latin and a Cyrillic
    *     letter — the in-word homoglyph count that separates spoofing from
    *     benign code-switching (which mixes across words, not within).
    *
    * One codegen'd projection, zero shuffle — per-row cost is four regex
    * scans over the document regardless of corpus size.
    */
  def scriptProfile(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    def classCount(re: String): Column =
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), re, ""))).cast("long")
    val latinRe = "[A-Za-z]"
    val cyrRe = "[Ѐ-ӿ]"
    val greekRe = "[Ͱ-Ͽ]"
    val nLatin = classCount(latinRe)
    val nCyr = classCount(cyrRe)
    val nGreek = classCount(greekRe)
    val letters = nLatin + nCyr + nGreek
    val domN = greatest(nLatin, nCyr, nGreek)
    val confusable = size(filter(
      graft.functions.TextFunctions.tokens(col(textCol)),
      t => t.rlike(latinRe) && t.rlike(cyrRe))).cast("long")
    df.select(col(idCol).as("doc_id"),
      nLatin.as("n_latin"), nCyr.as("n_cyr"), nGreek.as("n_greek"),
      classCount("[0-9]").as("n_digit"),
      when(letters === 0, "none")
        .when(nLatin === domN, "latin")
        .when(nCyr === domN, "cyrillic")
        .otherwise("greek").as("dominant"),
      when(letters === 0, 0.0)
        .otherwise(round(lit(1.0) -
          domN.cast("double") / letters.cast("double"), 6)).as("mix_ratio"),
      confusable.as("confusable_words"))
  }
}
