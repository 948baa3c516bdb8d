package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Repetition

/** Benchmark decontamination for training corpora: drop (or flag) training
  * documents that overlap an evaluation/benchmark set — the n-gram-overlap
  * rule used by the big LLM data pipelines (a doc is contaminated when at
  * least `threshold` of its distinct word n-grams also occur in the
  * benchmark corpus).
  *
  * Scale shape: the benchmark side is tiny relative to training data (eval
  * sets vs 100 TB of train docs), so its distinct gram set is built once and
  * broadcast — the train side is ONE scan: per-doc distinct grams exploded,
  * map-side broadcast-joined against the bench set, then a single
  * map-side-combinable aggregation keyed by doc id. No shuffle ever carries
  * raw text; only (id, counters) rows move.
  *
  * The overlap fraction is ⌊frac·10⁴⌋-quantized (integer inputs → the
  * division is bit-identical across engines; see SURVEY §6).
  */
object Decontaminate {

  /** Per-train-doc contamination stats: (id, n_grams, n_hit, contam_frac_q).
    * Docs with fewer than n tokens have no n-grams and score 0 (clean).
    * The benchmark gram set is always broadcast: `bench` must be
    * benchmark-sized, not another corpus (counting it to gate the hint
    * would cost a job). */
  def contaminationStats(docs: DataFrame, id: Column, text: Column,
                         bench: DataFrame, benchText: Column, n: Int): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    // tokens are projected to a bound column before the n-gram transform —
    // see the wordNgrams scaladoc (inlining the tokenizer into the lambda
    // re-tokenizes the doc per gram, O(len²))
    val benchSide = broadcast(bench
      .select(Repetition.wordTokens(benchText).as("__toks"))
      .select(explode(array_distinct(Repetition.wordNgrams(col("__toks"), n))).as("gram"))
      .distinct()
      .withColumn("__hit", lit(1)))
    val docGrams = docs
      .select(id.as("id"), Repetition.wordTokens(text).as("__toks"))
      .select(col("id"),
        explode_outer(array_distinct(Repetition.wordNgrams(col("__toks"), n))).as("gram"))
    docGrams
      .join(benchSide, Seq("gram"), "left")
      .groupBy("id")
      .agg(count(col("gram")).as("n_grams"), count(col("__hit")).as("n_hit"))
      .select(col("id"), col("n_grams"), col("n_hit"),
        when(col("n_grams") > 0,
          floor(col("n_hit") * lit(10000.0) / col("n_grams")).cast("long"))
          .otherwise(lit(0L)).as("contam_frac_q"))
  }

  /** Training rows whose benchmark n-gram overlap stays BELOW `threshold`
    * (a fraction in [0,1]) — the shippable decontaminated corpus. */
  def decontaminate(docs: DataFrame, id: Column, text: Column,
                    bench: DataFrame, benchText: Column, n: Int,
                    threshold: Double): DataFrame = {
    val thresholdQ = math.floor(threshold * 10000.0).toLong
    // distinct keep-column name: the caller's id column may itself be "id",
    // which would make the semi-join condition ambiguous
    val clean = contaminationStats(docs, id, text, bench, benchText, n)
      .filter(col("contam_frac_q") < thresholdQ)
      .select(col("id").as("__decontam_keep"))
    docs.join(clean, id === col("__decontam_keep"), "left_semi")
  }
}
