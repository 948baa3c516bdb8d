package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pair-set quality metrics: precision/recall of an APPROXIMATE near-dup
  * pass against the exact baseline on the same corpus — the evaluation
  * harness that turns "LSH with these parameters looks fine" into a
  * measured recall number before the approximate path is trusted at
  * 100 TB ("measure, don't guess" applied to the dedup family itself).
  *
  * Both inputs are (id_a, id_b) pair frames (canonical a < b). One full
  * outer join on the pair key + one count aggregation; metrics are ppm
  * BIGINTs via integer division (engine-portable, like
  * [[Expectations]]). Output is a single row:
  * (n_exact, n_approx, tp, fp, fn, precision_ppm, recall_ppm).
  */
object DedupEval {

  def pairSetMetrics(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .distinct().withColumn("ina", lit(1L))
    val e = exact.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .distinct().withColumn("ine", lit(1L))
    e.join(a, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(coalesce(col("ine"), lit(0L))).as("n_exact"),
        sum(coalesce(col("ina"), lit(0L))).as("n_approx"),
        sum(coalesce(col("ine"), lit(0L)) * coalesce(col("ina"), lit(0L))).as("tp"))
      .select(col("n_exact"), col("n_approx"), col("tp"),
        (col("n_approx") - col("tp")).as("fp"),
        (col("n_exact") - col("tp")).as("fn"),
        when(col("n_approx") === 0, 0L)
          .otherwise(expr("(1000000 * tp) div n_approx")).as("precision_ppm"),
        when(col("n_exact") === 0, 0L)
          .otherwise(expr("(1000000 * tp) div n_exact")).as("recall_ppm"))
  }

  /** Dedup threshold YIELD CURVE — "what would each threshold actually
    * remove": for every candidate threshold, how many near-dup pairs
    * survive and how many distinct documents they touch. The number a
    * curator reads BEFORE committing a threshold (the L76 yield report
    * shows what one threshold did; this shows the whole dial), and the
    * classic way an over-aggressive dedup is caught early.
    *
    * ONE pair computation at the loosest threshold, consumed once: each
    * pair becomes its two endpoint ids carrying the pair's `j_bp`, one
    * `groupBy(id)` takes the doc's best `j_bp` and its per-threshold
    * pair count (`count(j_bp >= t)`, one column per threshold), and one
    * global aggregate reads every dial off those columns —
    * `n_pairs(t) = Σ c_t / 2` (each pair has two endpoints) and
    * `n_docs(t) = count(max_j >= t)` (a doc is touched iff its best pair
    * clears t). The answer-every-threshold-from-one-structure idea of
    * Continuously Adaptive Similarity Search (SIGMOD 2020): no threshold
    * spine join, no per-threshold copy of the pairs, never a re-shingle
    * per threshold. Thresholds compare at BASIS POINTS of the 4-decimal
    * `jaccard` (an integer both engines derive identically from the
    * rounded double — the L4 oracle convention), so the curve is
    * hash-exact cross-engine.
    *
    * Output: (threshold_bp, n_pairs, n_docs), one row per DISTINCT
    * threshold at basis-point resolution (0.5 and 0.50001 are one dial),
    * including thresholds that keep zero pairs. */
  def thresholdCurve(df: DataFrame, idCol: Column, textCol: Column,
                     k: Int, thresholds: Seq[Double],
                     maxDocFreq: Long = 0L): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val thrBp = thresholds.map(t => math.round(t * 1e4)).distinct.sorted
    val pairs = NearDup.ngramJaccardPairs(df, idCol, textCol, k,
        threshold = thrBp.head / 1e4, maxDocFreq = maxDocFreq)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard") * 1e4).cast("long").as("j_bp"))
    val perDoc = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id"), col("j_bp"))
      .groupBy("id")
      .agg(max("j_bp").as("max_j"),
        thrBp.map(t => count(when(col("j_bp") >= t, 1)).as(s"c_$t")): _*)
    val totals = thrBp.flatMap(t => Seq(
      sum(col(s"c_$t")).as(s"p_$t"),
      count(when(col("max_j") >= t, 1)).as(s"d_$t")))
    perDoc.agg(totals.head, totals.tail: _*)
      .select(explode(array(thrBp.map(t => struct(
        lit(t).as("threshold_bp"),
        (coalesce(col(s"p_$t"), lit(0L)) / 2).cast("long").as("n_pairs"),
        col(s"d_$t").as("n_docs"))): _*)).as("r"))
      .select("r.threshold_bp", "r.n_pairs", "r.n_docs")
  }
}
