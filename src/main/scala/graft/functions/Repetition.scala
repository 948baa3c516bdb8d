package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Within-document repetition signals for corpus quality filtering — the
  * Gopher/MassiveText-style "repetitious document" rules re-expressed as
  * Spark column arithmetic (duplicate-word fraction, duplicate-n-gram
  * fraction, modal-n-gram share).
  *
  * Every signal is a per-row array expression over the doc's own tokens
  * (split / array_distinct / size / sort + one fold): NARROW, zero
  * shuffle, one scan. At 100 TB this is the shape you want for any signal
  * that only needs per-doc counts. (Higher-order array functions are
  * interpreted expressions, not codegen'd, but they never break the stage
  * — the plan stays a single Project over the scan.)
  *
  * The modal-gram share (`modalGramFracQ`) needs a per-doc argmax over
  * gram counts. Sorting the doc's grams puts equal grams next to each
  * other, so one fold over the sorted array that tracks the longest equal
  * run finds it: O(len log len) string compares in-row, no pairwise
  * compare and no per-gram state — cheaper than exploding the grams
  * through groupBy(doc, gram) → groupBy(doc), which pays two shuffles for
  * a value that never leaves the row.
  *
  * All fractions are emitted ⌊frac·10⁴⌋-quantized (`_q` suffix): the inputs
  * to the division are exact integers, so the double result is bit-identical
  * across engines and `floor` is deterministic (see SURVEY §6 / q53 note).
  */
object Repetition {

  /** Single-space word tokens with empties dropped — mirrors DuckDB
    * `list_filter(string_split(text, ' '), x -> x <> '')` exactly. */
  def wordTokens(c: Column): Column =
    filter(split(c, " "), t => t =!= lit(""))

  /** Word n-gram array (space-joined, overlapping); fewer than n tokens →
    * empty array. Built from `sequence` + `element_at` so any n works.
    *
    * PASS A BOUND COLUMN (a projected attribute), not an expression tree:
    * the lambda body references `toks` once per n-gram element, and Spark
    * inlines the full expression there — `wordNgrams(wordTokens(text), n)`
    * re-tokenizes the document for EVERY gram (O(len²) per doc; measured
    * 10× on q57). Project `wordTokens(...)` to a column first; the
    * operators in this file and [[graft.operators.Decontaminate]] do. */
  def wordNgrams(toks: Column, n: Int): Column = {
    require(n >= 1, s"n must be positive, got $n")
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** ⌊(1 − distinct/total)·10⁴⌋ over an array; empty array → 0 (an empty
    * doc repeats nothing). */
  def dupFracQ(arr: Column): Column =
    when(size(arr) > 0,
      floor((lit(1.0) - size(array_distinct(arr)).cast("double") / size(arr).cast("double"))
        * lit(10000)).cast("long"))
      .otherwise(lit(0L))

  /** Modal-gram share of a gram array, ⌊max count · 10⁴ / size⌋: the
    * fraction of the array occupied by its single most frequent element
    * (Gopher's "top n-gram fraction"). NULL for an empty or null array —
    * a doc with no grams has no modal gram.
    *
    * In-row: `sort_array` groups equal grams, then one `aggregate` fold
    * carries (previous gram, current run, longest run) — O(len log len).
    * The arithmetic is the q56 oracle's (integer count × 10000.0 /
    * integer total, floored), so values are bit-identical to it.
    *
    * PASS A BOUND COLUMN (see [[wordNgrams]]): `grams` is referenced three
    * times, and an expression tree would be re-evaluated at each. */
  def modalGramFracQ(grams: Column): Column = {
    val init = struct(lit(null).cast("string").as("prev"), lit(0).as("run"), lit(0).as("best"))
    val longestRun = aggregate(sort_array(grams), init, (acc, g) => {
      val run = when(acc.getField("prev") === g, acc.getField("run") + 1).otherwise(lit(1))
      struct(g.as("prev"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
    }, acc => acc.getField("best"))
    when(size(grams) > 0, floor(longestRun * lit(10000.0) / size(grams)).cast("long"))
  }

  /** Per-doc narrow repetition frame: (id, n_tokens, dup_word_frac_q,
    * dup_bigram_frac_q, top_bigram_frac_q). One Project over the scan — no
    * shuffle. Docs with fewer than two tokens read 0 in both bigram
    * signals. */
  def repetitionSignals(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), wordTokens(text).as("__toks"))
      .select(col("id"), col("__toks"), wordNgrams(col("__toks"), 2).as("__bigrams"))
      .select(
        col("id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        dupFracQ(col("__toks")).as("dup_word_frac_q"),
        dupFracQ(col("__bigrams")).as("dup_bigram_frac_q"),
        coalesce(modalGramFracQ(col("__bigrams")), lit(0L)).as("top_bigram_frac_q"))

  /** Modal n-gram share per doc, ⌊·10⁴⌋-quantized ([[modalGramFracQ]] over
    * the doc's word n-grams). Docs with fewer than n tokens are absent from
    * the result (they have no n-grams) — callers join and coalesce.
    *
    * Shape: one Project and one filter over the scan, no shuffle. */
  def topNgramFracQ(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("id"), wordTokens(text).as("__toks"))
      .where(size(col("__toks")) >= n)
      .select(col("id"), wordNgrams(col("__toks"), n).as("__grams"))
      .select(col("id"), modalGramFracQ(col("__grams")).as(s"top_${n}gram_frac_q"))

  /** Within-document first-occurrence segment dedup — the REPAIR sibling of
    * the detection signals above: split on `sep`, keep each segment's FIRST
    * occurrence (order preserved), re-join. The Gopher/RefinedWeb cleanup
    * for boilerplate documents whose repeated lines/paragraphs would
    * otherwise sink them under the repetition thresholds; with `sep = " "`
    * the same code path is order-preserving word dedup.
    *
    * Shape: one narrow Project over the scan — split / indexed
    * higher-order `filter` (keep where `array_position` = own index) /
    * `array_join`; zero shuffle, zero state. The in-row first-occurrence
    * scan is O(segments²) string compares per doc — fine for line-grained
    * segments (a 10k-line doc is pathological input, not a workload); a
    * corpus of such pathologies would move to the explode → min-pos window
    * shape that [[graft.operators.SpanDedup]] uses cross-document.
    *
    * Emits (id, n_segments, n_kept, text_dedup) — exact SQL oracle
    * (DuckDB's 1-based list lambdas mirror `array_position`). */
  def dedupSegments(df: DataFrame, id: Column, text: Column,
                    sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val segs = split(text, java.util.regex.Pattern.quote(sep))
    df.select(id.as("id"), segs.as("__segs"))
      .select(col("id"), col("__segs"),
        filter(col("__segs"),
          (s, i) => array_position(col("__segs"), s) === i + 1).as("__kept"))
      .select(col("id"),
        size(col("__segs")).cast("long").as("n_segments"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), sep).as("text_dedup"))
  }
}
