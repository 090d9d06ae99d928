package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Distributed byte-pair-encoding merge learning — the tokenizer-training
  * step of an LLM data pipeline (Sennrich et al. 2016): repeatedly count
  * adjacent symbol pairs over the corpus and fuse the most frequent pair
  * into a new symbol.
  *
  * The classic formulation, kept exactly so any engine replaying the recipe
  * learns the identical merge table (the DuckDB oracle does, via unrolled
  * rounds):
  *
  *   - the corpus is reduced to WORD TYPES with frequencies (one row per
  *     distinct whitespace token — the standard trick: pair counts weight
  *     by word frequency, so the data the loop touches is vocabulary-sized,
  *     not corpus-sized);
  *   - each word is a symbol sequence, initially its characters;
  *   - per round: count (left, right) adjacent pairs weighted by word
  *     frequency; the winner is the highest count, ties toward the
  *     lexicographically smallest (left, right); fuse every non-overlapping
  *     left-to-right occurrence.
  *
  * Symbol sequences are carried as STX/ETX-bracketed strings
  * (`⟨a⟩⟨b⟩⟨c⟩` with ⟨ = , ⟩ = ), which makes the fuse step a
  * plain `replace(s, ⟨l⟩⟨r⟩, ⟨lr⟩)` — `replace` is left-to-right and
  * non-overlapping in both Spark and DuckDB, which is exactly BPE's greedy
  * merge semantics (`a a a` fuses to `aa a`, not `a aa`). Input text must
  * not contain the STX/ETX control characters.
  *
  * Scale: one corpus scan builds the word-type table (map-side-combined
  * groupBy); every round is one codegen'd pair explode + count over the
  * vocabulary-sized table with the current merge inlined as a literal, and
  * only the single winning pair (model state, bytes) reaches the driver.
  * The word table is pinned once; each round's fused strings are a lazy
  * projection over it — `merges` rounds deep, fine for the tens-to-low-
  * hundreds of merges a recipe learns per job.
  */
object Bpe {

  val Stx = "\u0002"
  val Etx = "\u0003"

  /** The learned merge table: (merge_idx 1.., left, right, n) — one row per
    * round, `n` the weighted pair count that won the round. Rounds whose
    * best count would be 0 (corpus exhausted) stop early.
    */
  def learnMerges(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val spark = df.sparkSession
    import spark.implicits._

    // word types with frequencies; symbol string = bracketed characters.
    // Pinned: every round's pair count re-reads it (with more replaces
    // stacked on top), and it is vocabulary-sized — not corpus-sized.
    val words = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("wc"), array_join(transform(
        sequence(lit(1), length(col("w"))),
        i => concat(lit(Stx), substring_index_char(col("w"), i), lit(Etx))), "").as("s"))

    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    graft.Pin.checkpointed(words) { pinned =>
      var cur = pinned
      var exhausted = false
      for (m <- 1 to merges if !exhausted) {
        val toks = split(
          call_function("substring", col("s"), lit(2), length(col("s")) - 2),
          Etx + Stx)
        val pairIdx = when(size(toks) > 1, sequence(lit(1), size(toks) - 1))
          .otherwise(array())
        val top = cur
          .select(col("wc"), toks.as("t"), explode(pairIdx).as("i"))
          .select(col("wc"), element_at(col("t"), col("i")).as("left"),
            element_at(col("t"), col("i") + 1).as("right"))
          .groupBy("left", "right").agg(sum("wc").as("n"))
          .orderBy(col("n").desc, col("left").asc, col("right").asc)
          .limit(1)
          .as[(String, String, Long)].collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, n) = top.head
          out += ((m, l, r, n))
          cur = cur.select(col("wc"),
            call_function("replace", col("s"),
              lit(Stx + l + Etx + Stx + r + Etx), lit(Stx + l + r + Etx)).as("s"))
        }
      }
    }
    out.toSeq.toDF("merge_idx", "left", "right", "n")
  }

  /** substring(w, i, 1) with a column position — `substring` the function
    * wants literal pos/len, so route through the SQL form.
    */
  private def substring_index_char(w: Column, i: Column): Column =
    call_function("substring", w, i, lit(1))

  /** Apply a learned merge list to the corpus: per-document BPE symbol
    * stats (doc_id, n_words, n_chars, n_bpe) where `n_bpe` is the symbol
    * count after fusing every merge in order within each word.
    *
    * ZERO shuffle: each word is bracket-encoded, run through the merge
    * `replace` chain (merges inlined as literals — broadcast-free model
    * state), and its symbols counted as ETX occurrences
    * (`length(s) − length(replace(s, ETX, ''))`), all inside one codegen'd
    * projection; per-doc totals are an `aggregate` HOF over the word array,
    * not an explode+groupBy.
    */
  def encodeStats(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = filter(TextFunctions.tokens(col(textCol)), w => length(w) > 0)
    def encoded(w: Column): Column = {
      val base = array_join(transform(sequence(lit(1), length(w)),
        i => concat(lit(Stx), substring_index_char(w, i), lit(Etx))), "")
      merges.foldLeft(base) { case (s, (l, r)) =>
        call_function("replace", s, lit(Stx + l + Etx + Stx + r + Etx),
          lit(Stx + l + r + Etx))
      }
    }
    def symCount(w: Column): Column = {
      val s = encoded(w)
      length(s) - length(call_function("replace", s, lit(Etx), lit("")))
    }
    df.select(col(idCol).as("doc_id"),
      size(words).cast("long").as("n_words"),
      aggregate(words, lit(0L), (acc, w) => acc + length(w).cast("long"))
        .as("n_chars"),
      aggregate(words, lit(0L), (acc, w) => acc + symCount(w).cast("long"))
        .as("n_bpe"))
  }

  /** Tokenizer fertility per corpus slice — the eval every tokenizer
    * recipe reports (how many symbols a word costs, how many characters a
    * symbol carries) split by a grouping column, typically language: the
    * table that exposes which languages a merge budget under-serves
    * (higher fertility = more tokens per word = costlier training and
    * shorter effective context for that slice).
    *
    * Composes [[encodeStats]] (zero-shuffle per-doc symbol counts under
    * the learned merges) with one equi-join back to the grouping column
    * and a map-side-combined aggregate — corpus touched once. Ratios are
    * exact-integer divisions rounded once (the q101 rule needs no
    * micro-unit lift here: numerator and denominator are exact longs).
    *
    * @return (group, n_docs, n_words, n_bpe, fertility, chars_per_sym) —
    *         fertility = symbols/word, chars_per_sym = chars/symbol, 6 dp,
    *         0.0 for empty slices.
    */
  def fertilityByGroup(df: DataFrame, textCol: String, idCol: String,
      groupCol: String, merges: Seq[(String, String)]): DataFrame = {
    encodeStats(df, textCol, idCol, merges)
      .join(df.select(col(idCol).as("doc_id"), col(groupCol).as("group")),
        "doc_id" :: Nil)
      .groupBy("group").agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe").as("n_bpe"),
        when(sum("n_words") > 0,
          round(sum("n_bpe").cast("double") / sum("n_words").cast("double"), 6))
          .otherwise(0.0).as("fertility"),
        when(sum("n_bpe") > 0,
          round(sum("n_chars").cast("double") / sum("n_bpe").cast("double"), 6))
          .otherwise(0.0).as("chars_per_sym"))
  }
}
