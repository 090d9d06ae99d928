package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Assignment is a pure function of the row's KEY (md5 prefix bucketing),
  * not of RNG state or partitioning — so splits are stable across runs,
  * engines, repartitioning, and cluster sizes, and a document keeps its
  * split when the corpus is re-processed (the property `df.sample` and
  * `rand()` cannot give). Everything is codegen'd expressions, zero
  * shuffle, and reproducible in any engine with md5 (the DuckDB oracle
  * checks the exact assignment).
  */
object Sampling {

  /** Bucket 0..255 from the first two hex chars of md5(key). */
  private def bucket(keyCol: String) =
    substring(md5(col(keyCol).cast("string")), 1, 2)

  /** Label each row "train" or "holdout": `trainBuckets` of the 256 md5
    * buckets (e.g. 205 ≈ 80%) go to train.
    */
  def hashSplit(df: DataFrame, keyCol: String, trainBuckets: Int,
      splitCol: String = "split"): DataFrame = {
    require(trainBuckets >= 0 && trainBuckets <= 256,
      s"trainBuckets must be in [0, 256], got $trainBuckets")
    val threshold = f"${trainBuckets - 1}%02x"
    df.withColumn(splitCol,
      when(lit(trainBuckets) > 0 && bucket(keyCol) <= lit(threshold), "train")
        .otherwise("holdout"))
  }

  /** Keep `buckets`/256 of the rows, deterministically by key. */
  def deterministicSample(df: DataFrame, keyCol: String, buckets: Int): DataFrame = {
    require(buckets >= 0 && buckets <= 256,
      s"buckets must be in [0, 256], got $buckets")
    if (buckets == 0) df.filter(lit(false))
    else df.filter(bucket(keyCol) <= lit(f"${buckets - 1}%02x"))
  }

  /** Uniform [0,1) draw as a pure function of the key: first 8 md5 hex chars
    * read as an integer, over 2³². Engine-portable (DuckDB computes the
    * identical value) and finer-grained than the 256-bucket split above.
    */
  def unitHash(keyCol: String): org.apache.spark.sql.Column =
    conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0

  /** Temperature-based source mixture resampling (the multilingual-corpus
    * rebalancing move: p_s^τ flattens head sources and boosts tail ones).
    *
    * Per-source keep rate: with p_s = n_s/N and w_s = p_s^τ,
    * `rate_s = min(1, targetFrac · N · w_s / (Σw · n_s))` — i.e. the kept
    * corpus targets `targetFrac·N` docs distributed ∝ w_s, capped at keeping
    * every doc of a source. τ = 1 reproduces the input mix; τ = 0 equalizes
    * sources. Rates are rounded to 6 decimals so any engine computing the
    * same formula keeps the identical rows.
    *
    * Scale: one map-side-combined groupBy over the corpus for the per-source
    * counts (a tiny table — thousands of sources, not rows), rate arithmetic
    * on that tiny table, then a broadcast join + codegen'd filter. The corpus
    * is scanned once and never shuffled.
    */
  def mixtureSample(df: DataFrame, sourceCol: String, keyCol: String,
      tau: Double, targetFrac: Double): DataFrame = {
    require(tau >= 0, s"tau must be >= 0, got $tau")
    require(targetFrac > 0, s"targetFrac must be > 0, got $targetFrac")
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_s"))
    val tot = counts.agg(sum("n_s").as("n")).withColumn("one", lit(1))
    val w = counts.withColumn("one", lit(1)).join(broadcast(tot), "one")
      .withColumn("w_s", pow(col("n_s").cast("double") / col("n"), tau))
    val sumW = w.agg(sum("w_s").as("sum_w")).withColumn("one", lit(1))
    val rates = w.join(broadcast(sumW), "one")
      .select(col(sourceCol),
        least(lit(1.0), round(lit(targetFrac) * col("n") * col("w_s") /
          (col("sum_w") * col("n_s")), 6)).as("rate"))
    df.join(broadcast(rates), sourceCol :: Nil)
      .filter(unitHash(keyCol) < col("rate"))
      .drop("rate")
  }

  /** Exact stratified split: partition each stratum's rows into named
    * splits with EXACT per-stratum proportions — `floor(n_s · cumfrac_i)`
    * rows to the first i splits, the last split taking the remainder — the
    * eval-set construction where "10% held out" must hold per language /
    * domain, not just in expectation (the md5-bucket [[hashSplit]] is only
    * approximate). Which rows land where is a pure function of the data:
    * rows are ranked within their stratum by (md5(key), key).
    *
    * Scale: the per-stratum rank is `Packing.groupedRowNumbers` — the
    * grouped two-phase distributed prefix, so a dominant stratum (half the
    * corpus one language) never serializes into one task; stratum sizes are
    * a tiny broadcast table. Cumulative fractions are inlined as exact
    * double literals so any engine computing `floor(n · cum)` agrees.
    *
    * @param fracs one fraction per name, summing to ~1; the last name
    *   absorbs floor rounding remainders
    * @return (keyCol, strataCol, split)
    */
  def stratifiedSplit(df: DataFrame, strataCol: String, keyCol: String,
      fracs: Seq[Double], names: Seq[String], partitions: Int = 0): DataFrame = {
    require(fracs.nonEmpty && fracs.length == names.length,
      s"need one fraction per split name, got ${fracs.length} vs ${names.length}")
    require(fracs.forall(f => f > 0 && f <= 1) && math.abs(fracs.sum - 1.0) < 1e-9,
      s"fractions must be positive and sum to 1, got $fracs")
    val cums = fracs.scanLeft(0.0)(_ + _).tail // exact doubles, inlined both sides
    val rows = df.select(col(keyCol), col(strataCol),
      md5(col(keyCol).cast("string")).as("__h"))
    val ranked = graft.operators.Packing.groupedRowNumbers(
      rows, Seq(strataCol), Seq("__h", keyCol), partitions)
    val sizes = ranked.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
      .withColumnRenamed(strataCol, "__ostrata")
    val split = cums.init.zipWithIndex.foldRight(lit(names.last): Column) {
      case ((c, i), rest) =>
        when(col("rank") <= floor(col("__n") * lit(c)), names(i)).otherwise(rest)
    }
    // null-safe: a NULL stratum is still a stratum (groupBy and the
    // PARTITION BY twin both keep it); an equi-join would drop its rows
    ranked.join(broadcast(sizes), col(strataCol) <=> col("__ostrata"))
      .select(col(keyCol), col(strataCol), split.as("split"))
  }

  /** Per-group quota sampling: keep at most `quota` rows per value of
    * `groupCol`, chosen deterministically by md5(key) rank (ties by key) —
    * the "cap any one domain/source at N documents" curation move. Unlike
    * [[mixtureSample]]'s rate-based thinning this is an EXACT cap: a group
    * with ≤ quota rows keeps all of them, a larger one keeps exactly
    * `quota`, and which rows survive is a pure function of the data.
    *
    * Scale: one shuffle on the group key; the rank window runs per group in
    * parallel. Skewed groups (one domain = half the corpus) serialize that
    * group's rank scan into one task — for those, pre-thin with
    * [[deterministicSample]] or raise spark's skew-join handling; the
    * common curation case (quota ≪ group size, many groups) is exactly this
    * shape. Only (key, group) flows through the shuffle when callers
    * project first; the returned frame keeps all input columns.
    */
  def groupQuota(df: DataFrame, groupCol: String, keyCol: String,
      quota: Int): DataFrame = {
    require(quota >= 1, s"quota must be >= 1, got $quota")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(md5(col(keyCol).cast("string")).asc, col(keyCol).asc)
    df.withColumn("__qrank", row_number().over(w))
      .filter(col("__qrank") <= quota)
      .drop("__qrank")
  }

  /** Deterministic global training order: (keyCol, pos) with pos 0..n−1, a
    * pure function of (key, salt) — the epoch shuffle a trainer consumes.
    * A new epoch is a salt change, never a data move. The rank over the
    * salted md5 is computed by the grouped two-phase distributed prefix
    * (range partition on the hash → per-partition row numbers → broadcast
    * offsets), so no single task ever sorts the corpus and the order is
    * identical across cluster sizes and engines — unlike `orderBy(rand())`,
    * which is neither reproducible nor resumable mid-epoch.
    */
  def trainOrder(df: DataFrame, keyCol: String, salt: String,
      partitions: Int = 0): DataFrame = {
    val rows = df.select(col(keyCol),
      md5(concat_ws(":", lit(salt), col(keyCol).cast("string"))).as("__h"))
    graft.operators.Packing.groupedRowNumbers(
        rows, Nil, Seq("__h", keyCol), partitions)
      .select(col(keyCol), (col("rank") - 1).cast("long").as("pos"))
  }

  /** Proportional source interleave: a single global training order in
    * which every source is consumed at a uniform RELATIVE rate — all
    * sources hit their halfway point together and finish together, so a
    * trainer never sees a long head of one domain followed by a tail of
    * another (which [[trainOrder]]'s uniform shuffle only gives in
    * expectation). The schedule is the standard mixture-stream construction:
    * within-source position r (md5-ranked, so a salt-free epoch shuffle),
    * fractional progress r/n_s, global order by (progress, source, r).
    *
    * Both ranks come from the grouped two-phase distributed prefix
    * ([[Packing.groupedRowNumbers]]): no single task ever sorts the corpus,
    * and r/n_s is one exact IEEE division — identical on every engine.
    * Returns (keyCol, groupCol, pos) with pos 0..N−1.
    */
  def interleaveBySource(df: DataFrame, groupCol: String, keyCol: String,
      partitions: Int = 0): DataFrame = {
    val rows = df.select(col(groupCol), col(keyCol),
      md5(col(keyCol).cast("string")).as("__h"))
    // ONE routing decision (graft.Small.byEstimate) covering both prefix
    // passes, made on the input scan's statistics: the second pass's input
    // carries a join whose multiplied size estimate would otherwise force
    // the distributed shape even for a small corpus
    val parts = if (graft.Small.byEstimate(rows)) 1 else partitions
    val ranked = graft.operators.Packing.groupedRowNumbers(
        rows, Seq(groupCol), Seq("__h", keyCol), parts)
      .withColumnRenamed("rank", "__r")
    val counts = ranked.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val keyed = ranked.join(broadcast(counts), Seq(groupCol))
      .withColumn("__frac", col("__r").cast("double") / col("__n"))
      .select(col(groupCol), col(keyCol), col("__frac"), col("__r"))
    graft.operators.Packing.groupedRowNumbers(
        keyed, Nil, Seq("__frac", groupCol, "__r"), parts)
      .select(col(keyCol), col(groupCol), (col("rank") - 1).cast("long").as("pos"))
  }

  /** UNIMAX epoch-budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): spread a total training budget over languages as
    * uniformly as possible subject to a per-language epoch cap `epochCap` —
    * no language repeats more than `epochCap` times, and budget a capped
    * (low-resource) language cannot absorb flows to the remaining ones.
    * The head language ends up with FEWER epochs than the tail, which is
    * the paper's point versus temperature sampling ([[mixtureSample]]).
    *
    * Sequential statement: visit languages by corpus weight ascending; give
    * each `min(epochCap·n_l, remaining / remainingLangs)`. Closed form used
    * here (and replayed verbatim by the oracle): once one language takes
    * the uniform share, every later (larger) one does too — the share is
    * unchanged by an uncapped take — so cappedness is a monotone prefix in
    * size order. With languages ranked i = 1..L ascending by (n_l, lang)
    * and prefix sums S_i = Σ_{j≤i} epochCap·n_j:
    *
    *   capped(i)  ⇔  epochCap·n_i·(L−i+1) ≤ B − S_{i−1}
    *
    * (the over-count of S vs the true allocated budget cannot flip the
    * test: for any row after the first uncapped one, B − S_{j−1} <
    * epochCap·n_j·(L−j+1) follows from n ascending). With t = last capped
    * rank: b_l = epochCap·n_l for capped l, (B − S_t)/(L − t) otherwise.
    *
    * B = `budgetFactor` × Σ n_l, so the call scales with the corpus rather
    * than hard-coding token counts.
    *
    * Scale: the corpus contributes ONE map-side-combined count aggregate;
    * the allocation runs on the per-language table — thousands of rows at
    * the very most — where the single-partition ordered window is exactly
    * the right plan. Epochs are rounded to 6 dp (budgets to 4) so any
    * engine replaying the closed form keeps identical rows.
    *
    * @return (langCol, n_w, capped, epochs, budget_w)
    */
  def unimaxAllocation(df: DataFrame, langCol: String, weightCol: Column,
      budgetFactor: Double, epochCap: Double): DataFrame = {
    require(budgetFactor > 0, s"budgetFactor must be > 0, got $budgetFactor")
    require(epochCap > 0, s"epochCap must be > 0, got $epochCap")
    val counts = df.groupBy(col(langCol))
      .agg(sum(weightCol).cast("long").as("n_w"))
    val tot = counts.agg(count(lit(1)).cast("int").as("l_n"),
      sum("n_w").cast("double").as("tot_w"))
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_w").asc, col(langCol).asc)
    val ranked = counts.crossJoin(broadcast(tot))
      .withColumn("b_total", lit(budgetFactor) * col("tot_w"))
      .withColumn("i", row_number().over(ord))
      .withColumn("s_prev", coalesce(
        sum(col("n_w").cast("double") * epochCap).over(
          ord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0.0)))
      .withColumn("capped",
        lit(epochCap) * col("n_w") * (col("l_n") - col("i") + 1) <=
          col("b_total") - col("s_prev"))
    val capAgg = ranked.agg(
      coalesce(max(when(col("capped"), col("i"))), lit(0)).as("t"),
      coalesce(sum(when(col("capped"), col("n_w").cast("double") * epochCap)),
        lit(0.0)).as("s_t"))
    ranked.crossJoin(broadcast(capAgg))
      .withColumn("b_w", when(col("capped"), lit(epochCap) * col("n_w"))
        .otherwise((col("b_total") - col("s_t")) / (col("l_n") - col("t"))))
      .select(col(langCol), col("n_w"), col("capped"),
        // a zero-weight language (all docs weigh 0) is capped with b_w = 0
        // and gets epochs 0 explicitly — 0/0 would be NaN, which
        // unimaxEpochs downstream would silently materialize as 0 repeats
        // anyway but with a poisoned allocation row
        when(col("n_w") > 0, round(col("b_w") / col("n_w"), 6))
          .otherwise(0.0).as("epochs"),
        round(col("b_w"), 4).as("budget_w"))
  }

  /** Materialize a [[unimaxAllocation]] as per-document epoch counts: every
    * doc of language l repeats ⌊e_l⌋ times, and a deterministic
    * frac(e_l)-share of docs — those with [[unitHash]] below the fraction —
    * takes one more, so the language's realized token budget matches the
    * allocation in expectation doc-by-doc and exactly as docs → ∞. The
    * per-doc count is a pure function of (doc key, allocation), so the
    * training mix is reproducible and resumable.
    *
    * Scale: the allocation table is a tiny broadcast; the corpus is scanned
    * once with a codegen'd hash-compare — no shuffle. Downstream, feed
    * `n_epochs` into `explode(sequence(...))` + [[trainOrder]] to lay out
    * actual training positions.
    *
    * @return (keyCol, langCol, n_epochs)
    */
  def unimaxEpochs(df: DataFrame, langCol: String, keyCol: String,
      weightCol: Column, budgetFactor: Double, epochCap: Double): DataFrame = {
    val alloc = unimaxAllocation(df, langCol, weightCol, budgetFactor, epochCap)
      .select(col(langCol), col("epochs"))
    df.join(broadcast(alloc), langCol :: Nil)
      .select(col(keyCol), col(langCol),
        (floor(col("epochs")) +
          when(unitHash(keyCol) < col("epochs") - floor(col("epochs")), 1L)
            .otherwise(0L)).cast("long").as("n_epochs"))
  }

  /** The UNIMAX pipeline end-to-end: allocation → per-doc epochs →
    * epoch-expanded instances → one global deterministic training order.
    * Every document materializes its [[unimaxEpochs]] repeat count as
    * (doc, rep) instances and the whole multiset is shuffled by the
    * [[trainOrder]] construction (md5 of salt:key:rep), so two epochs of
    * one doc land at unrelated positions — the actual input-order table a
    * trainer consumes, reproducible and resumable from any position.
    *
    * Scale: the explode multiplies rows by at most `epochCap`; the global
    * rank is the grouped two-phase distributed prefix (no single-task
    * sort); everything upstream is broadcast-sized.
    *
    * @return (keyCol, rep, pos) — pos 0..N_instances−1, a bijection
    */
  def unimaxTrainOrder(df: DataFrame, langCol: String, keyCol: String,
      weightCol: Column, budgetFactor: Double, epochCap: Double,
      salt: String, partitions: Int = 0): DataFrame = {
    val per = unimaxEpochs(df, langCol, keyCol, weightCol, budgetFactor, epochCap)
    val inst = per.filter(col("n_epochs") > 0)
      .select(col(keyCol),
        explode(sequence(lit(0L), col("n_epochs") - 1)).as("rep"))
    // the routing decision reads the INPUT scan's statistics (the
    // interleaveBySource pattern): the broadcast-join + explode lineage
    // above defeats Catalyst's size estimate, which would force the
    // distributed shape even for a small corpus — and the
    // instance count is bounded by epochCap × |df|, so the input statistic
    // is the honest proxy
    val parts = if (graft.Small.byEstimate(df.select(col(keyCol)))) 1 else partitions
    val rows = inst.select(col(keyCol), col("rep"),
      md5(concat_ws(":", lit(salt), col(keyCol).cast("string"),
        col("rep").cast("string"))).as("__h"))
    graft.operators.Packing.groupedRowNumbers(
        rows, Nil, Seq("__h", keyCol, "rep"), parts)
      .select(col(keyCol), col("rep"), (col("rank") - 1).cast("long").as("pos"))
  }

  /** Deterministic weighted sampling WITHOUT replacement, k per group —
    * Efraimidis–Spirakis in the exponential-race form: each row draws
    * `key = −ln(u)/w` with u a pure md5 function of its id (never a RNG),
    * and the k smallest keys per group win. Inclusion probability is
    * proportional to weight in the without-replacement sense, and the
    * sample is reproducible: the same ids win on any engine, any partition
    * count, any run.
    *
    * Portability: u = (md5₃₂ + 1)/2³² ∈ (0, 1] so ln is finite; the key is
    * rounded to 9 dp (keys live in ~1e-5..1, so 1-ulp libm differences in
    * ln/pow vanish at 9 dp) with the id as the total-order tie-break. One
    * window shuffle on the group, nothing else.
    */
  def weightedSample(df: DataFrame, groupCol: String, keyCol: String,
      weightCol: org.apache.spark.sql.Column, k: Int): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val u = (conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") + 1.0) / 4294967296.0
    val key = round(-log(u) / weightCol.cast("double"), 9)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(key.asc, col(keyCol).asc)
    df.withColumn("__wrank", row_number().over(w))
      .filter(col("__wrank") <= k)
      .drop("__wrank")
  }

  /** Leakage-free train/holdout split: the [[hashSplit]] assignment with
    * the train side DECONTAMINATED against the holdout side — any train
    * document sharing even one `k`-token shingle with any holdout document
    * is flagged `leaky` and excluded from `kept_train`. This is the eval-
    * hygiene step run before pretraining: a held-out benchmark built from
    * the same crawl is worthless if its text also sits in the training
    * split ([[Contamination.shingleOverlap]] MEASURES that overlap per
    * holdout doc; this operator ACTS on it from the train side).
    *
    * Scale shape: documents reduce to distinct (doc, shingle-hash) pairs —
    * the join keys are [[Dedup.portableTokenId]] hashes, never shingle
    * strings; the holdout side's distinct hash set is the small build side
    * of one LEFT SEMI join (holdout ≪ train by construction, AQE
    * broadcasts it when it fits); the flag joins back on doc id. No
    * doc×doc work anywhere.
    *
    * @return (doc_id, split, leaky, kept_train) — one row per input doc;
    *         `leaky` is always false for holdout docs.
    */
  def leakFreeSplit(df: DataFrame, textCol: String, idCol: String,
      trainBuckets: Int, k: Int = 3): DataFrame = {
    val split = hashSplit(df.select(col(idCol), col(textCol)), idCol,
      trainBuckets)
    val sh = split.select(col(idCol).as("doc_id"), col("split"),
        explode(Dedup.shingleArray(col(textCol), k)).as("shingle"))
      .select(col("doc_id"), col("split"),
        Dedup.portableTokenId(col("shingle")).as("tid"))
    val holdTids = sh.filter(col("split") === "holdout")
      .select("tid").distinct()
    val leaky = sh.filter(col("split") === "train")
      .join(holdTids, Seq("tid"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("__leak", lit(true))
    split.select(col(idCol).as("doc_id"), col("split"))
      .join(leaky, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("__leak"), lit(false)).as("leaky"),
        (col("split") === "train" && coalesce(col("__leak"), lit(false)) === false)
          .as("kept_train"))
  }

  /** Hardness-tilted domain mixture — the DoReMi-flavored reweighting step
    * (Xie et al. 2023 tilt domain weights by excess loss under a proxy
    * model; here the proxy is the corpus-fit unigram LM the pipeline
    * already computes, and the tilt is one exponential-weights step):
    * domains whose documents the reference model finds HARDER than the
    * corpus average get up-weighted, capped so no domain explodes or
    * vanishes.
    *
    *   - per-doc nll from [[Scoring.unigramLogLoss]] (6-dp fixed-point);
    *   - per-domain and corpus mean nll in integer micro-units (the q101
    *     order-free sum), divided once, rounded to 6 dp;
    *   - excess_d = mean_d − mean_corpus (exact: both 6-dp decimals);
    *   - tilt_d = clip(round(exp(eta · excess), 6), clipLo, clipHi) — the
    *     exp argument and result both 6-dp so every engine sees identical
    *     doubles (the q194 ln rule);
    *   - weight_d ∝ share_d · tilt_d, renormalized to sum 1 in micro-units.
    *
    * Scale: the corpus is touched only by the nll scoring pass (term
    * aggregates with map-side combine); everything after is arithmetic on
    * a |domains|-row table with one broadcast of two scalars. Returns
    * (domain, n_docs, mean_nll, excess, tilt, weight), one row per domain.
    */
  def hardnessTiltedWeights(df: DataFrame, domainCol: String, textCol: String,
      idCol: String, eta: Double = 1.0, clipLo: Double = 0.5,
      clipHi: Double = 2.0): DataFrame = {
    require(eta > 0, s"eta must be > 0, got $eta")
    require(clipLo > 0 && clipHi > clipLo,
      s"need 0 < clipLo < clipHi, got [$clipLo, $clipHi]")
    val nll = Scoring.unigramLogLoss(df, textCol, idCol)
      .join(df.select(col(idCol).as("doc_id"), col(domainCol).as("domain")),
        "doc_id" :: Nil)
      .withColumn("__mnll", round(col("nll") * 1e6, 0).cast("long"))
    val perDom = nll.groupBy("domain").agg(
      count(lit(1)).as("n_docs"),
      round(sum("__mnll").cast("double") / (lit(1e6) * count(lit(1))), 6)
        .as("mean_nll"))
    val corpus = nll.agg(
      round(sum("__mnll").cast("double") / (lit(1e6) * count(lit(1))), 6)
        .as("__corpus_nll"),
      count(lit(1)).cast("double").as("__n_total"))
    val tilted = perDom.crossJoin(broadcast(corpus))
      .withColumn("excess", round(col("mean_nll") - col("__corpus_nll"), 6))
      .withColumn("tilt", least(greatest(
        round(exp(lit(eta) * col("excess")), 6), lit(clipLo)), lit(clipHi)))
      .withColumn("__raw", round(
        col("n_docs").cast("double") / col("__n_total") * col("tilt"), 9))
    val z = tilted.agg(sum(round(col("__raw") * 1e9, 0).cast("long")).as("__z"))
    tilted.crossJoin(broadcast(z))
      .withColumn("weight", round(
        round(col("__raw") * 1e9, 0) / col("__z").cast("double"), 6))
      .select("domain", "n_docs", "mean_nll", "excess", "tilt", "weight")
  }
}
