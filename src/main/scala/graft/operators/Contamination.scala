package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train/eval contamination detection: which held-out documents share
  * k-token shingles with the training split?
  *
  * The check is an inverted-index semi join on the shingle value — the 100 TB
  * shape: explode both splits to (doc, shingle), hash-partition by shingle,
  * count matches per held-out document. No doc×doc work anywhere; the join
  * key is the shingle itself, so skew is bounded by shingle frequency (cap
  * ultra-frequent shingles upstream if a corpus needs it).
  */
object Contamination {

  /** Per held-out doc: how many of its distinct `k`-token shingles appear in
    * ANY training doc. Returns (doc_id, n_shingles, n_shared, shared_frac)
    * for contaminated docs (n_shared ≥ 1).
    *
    * `isTrain` must be a deterministic predicate over the input's columns
    * (e.g. [[Sampling.hashSplit]]'s md5-bucket rule) so the split is
    * reproducible across engines and runs.
    */
  def shingleOverlap(df: DataFrame, textCol: String, idCol: String,
      isTrain: org.apache.spark.sql.Column, k: Int = 3): DataFrame = {
    val withSplit = df.select(col(idCol).as("doc_id"), col(textCol).as("text"),
      isTrain.as("is_train"))
    val shingles = withSplit.select(col("doc_id"), col("is_train"),
      explode(Dedup.shingleArray(col("text"), k)).as("shingle"))
    val trainShingles = shingles.filter(col("is_train")).select("shingle").distinct()
    val holdout = shingles.filter(!col("is_train"))
    val shared = holdout
      .join(trainShingles, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val sizes = holdout.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    shared.join(sizes, "doc_id" :: Nil)
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_shingles"), 6).as("shared_frac"))
  }

  /** Cross-source shingle-overlap matrix: for every pair of sources, how
    * many distinct `k`-token shingles they share — the corpus-level
    * contamination/provenance report (which crawls mirror each other?
    * which source leaked into which?) that doc-pair comparison cannot
    * produce at scale.
    *
    * Scale shape: the corpus reduces to DISTINCT (source, shingle) pairs
    * (one shuffle on the shingle-hash key); the pair counts come from a
    * self-join keyed on the shingle, so the work per shingle is
    * C(sources(s), 2) ≤ C(#sources, 2) — bounded by the source count
    * squared, never by documents. A shingle present in every source costs
    * 190 pairs for 20 sources, not |docs|².
    *
    * Returns (src1, src2, n_shared) with src1 < src2.
    */
  def sourceOverlap(df: DataFrame, textCol: String, sourceCol: String,
      k: Int = 3): DataFrame = {
    // the shingle leaves the row only as its 64-bit hash (r19, guide §2.3
    // "shuffle keys, not payloads"): the distinct + self-join only DECIDE
    // on shingle identity — no downstream consumer reads the text — so the
    // exchanges carry 8 bytes instead of a k-token string (1.34× fewer
    // shuffle bytes on q139, VERDICT.md). Tradeoff: two shingles with the
    // same xxhash64 are one shingle here, which can overstate n_shared (one
    // source holds each) or understate it (both sources hold both). No
    // collision occurs at any shipped SF (oracle-verified exact); at a
    // 10^12-shingle corpus the expected ~27 collisions perturb the report
    // by ~1e-10 relative.
    val ss = df.select(col(sourceCol).as("source"),
        explode(Dedup.shingleArray(col(textCol), k)).as("shingle"))
      .select(col("source"), xxhash64(col("shingle")).as("shingle"))
      .distinct()
    val a = ss.select(col("source").as("src1"), col("shingle"))
    val b = ss.select(col("source").as("src2"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("src1") < col("src2"))
      .groupBy("src1", "src2").agg(count(lit(1)).as("n_shared"))
  }

  /** Span-level DECONTAMINATION — the rewrite counterpart of
    * [[shingleOverlap]] (which only reports): cut every `k`-token window of
    * a corpus document that also appears in the benchmark split, keeping
    * the rest of the document. Whole-doc dropping throws away an entire
    * document for one quoted benchmark sentence; span surgery removes
    * exactly the leaked text. A token is removed iff at least one
    * contaminated window covers it and no clean window does — the same
    * conservative boundary rule as
    * [[Dedup.removeDuplicateSpans]]: tokens a leaked span shares with
    * original text survive.
    *
    * Scale shape: benchmark windows reduce to DISTINCT hashes (tiny — eval
    * sets are MBs against a 100 TB corpus); the corpus windows LEFT-join
    * them on the hash (AQE broadcasts the benchmark side), flagged windows
    * group back to one row per doc, and the keep mask is evaluated inside
    * that row with array HOFs — no (doc, position) explosion through a
    * shuffle, same as removeDuplicateSpans.
    *
    * Returns (doc_id, clean, n_removed), one row per corpus document.
    */
  def decontaminateSpans(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 2, s"window length k must be >= 2, got $k")
    def winsOf(df: DataFrame): DataFrame =
      df.select(col(idCol).as("doc_id"),
          graft.functions.TextFunctions.tokens(col(textCol)).as("toks"))
        .filter(size(col("toks")) >= k)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("toks")) - (k - 1)),
          i => struct(i.as("ws"),
            md5(array_join(slice(col("toks"), i, lit(k)), " ")).as("wh")))).as("w"))
        .select(col("doc_id"), col("w.ws").as("ws"), col("w.wh").as("wh"))
    val benchHashes = winsOf(bench).select(col("wh"), lit(true).as("bad")).distinct()
    val perDoc = winsOf(corpus)
      .join(benchHashes, Seq("wh"), "left")
      .groupBy("doc_id").agg(
        collect_list(when(col("bad"), col("ws"))).as("bads"),
        collect_list(when(col("bad").isNull, col("ws"))).as("goods"))
    def covers(starts: Column, p: Column): Column =
      exists(starts, s => s <= p && p < s + k)
    corpus.select(col(idCol).as("doc_id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("bads"), array().cast("array<int>")).as("bads"),
        coalesce(col("goods"), array().cast("array<int>")).as("goods"))
      .select(col("doc_id"), size(col("toks")).as("n"),
        filter(
          transform(sequence(lit(1), size(col("toks"))),
            p => struct(p.as("p"), element_at(col("toks"), p).as("t"))),
          s => covers(col("goods"), s("p")) || !covers(col("bads"), s("p"))).as("kept"))
      .select(col("doc_id"),
        array_join(transform(col("kept"), s => s("t")), " ").as("clean"),
        (col("n") - size(col("kept"))).cast("long").as("n_removed"))
  }
}
