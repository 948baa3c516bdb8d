package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass bounded-memory frequent-item detection: the Misra-Gries /
  * Space-Saving summary, distributed as per-partition sketches merged by
  * counter addition + re-pruning (Agarwal et al., "Mergeable Summaries",
  * PODS'12 — MG summaries are mergeable with the SAME error bound, which
  * is what makes the operator shuffle only k counters per partition
  * instead of the raw item stream).
  *
  * Contract (k counters, n total occurrences): every item with true count
  * > n/(k+1) is in the output, and each reported lower bound satisfies
  * `true − n/(k+1) ≤ lower ≤ true`. The exact `groupBy(item).count`
  * alternative shuffles the full item domain; this shuffles `k·partitions`
  * rows regardless of domain size — the sketch is the 100 TB path when the
  * domain (URLs, tokens, IPs) outgrows the shuffle, and the two-pass
  * "sketch then exact-count the survivors" refinement restores exact
  * counts with one more narrow scan.
  *
  * Implementation is `mapPartitions` with a bounded counter map — the
  * legitimate per-partition-imperative case (SURVEY §2 extension order d):
  * the algorithm's decrement step is inherently stateful per partition and
  * has no Catalyst equivalent.
  */
object HeavyHitters {

  /** Per-partition Misra-Gries: k bounded counters, decrement-all when
    * full. Returns (item, lowerBound) pairs — at most k per partition. */
  private def mgPartition(items: Iterator[String], k: Int): Iterator[(String, Long)] = {
    val counters = new java.util.HashMap[String, Long](k * 2)
    items.foreach { item =>
      if (counters.containsKey(item)) counters.put(item, counters.get(item) + 1L)
      else if (counters.size < k) counters.put(item, 1L)
      else {
        // decrement every counter; drop zeros (the MG step)
        val it = counters.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    counters.asScala.iterator.map { case (i, c) => (i, c) }
  }

  /** Merged MG sketch of `itemCol` with `k` counters: (item, count_lower).
    * Deterministic for a FIXED partitioning; across different partitionings
    * the reported lower bounds may differ within the error bound (the
    * published behavior of merged sketches) — the survivor GUARANTEE
    * (true count > n/(k+1) ⇒ present) holds under any partitioning.
    *
    * Output rows ≤ k. `count_lower` is the summed merged counter after the
    * final prune; `true count ≥ count_lower ≥ true count − n/(k+1)`. */
  def sketchTopItems(df: DataFrame, itemCol: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val partials = df.select(itemCol.cast("string").as("item"))
      .na.drop("any")
      .as[String]
      .mapPartitions(it => mgPartition(it, k))
      .toDF("item", "c")
    // Merge: counter addition per item (map-side combinable — input is
    // k·partitions rows), then the final MG prune back down to k via the
    // (k+1)-th summed counter as the decrement offset.
    val summed = partials.groupBy("item").agg(sum("c").as("c"))
    val ranked = summed.withColumn("__rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("item").asc)))
    // offset = (k+1)-th counter value (0 when ≤ k items survived the scan);
    // subtracting it is the merge-side decrement-all that restores the MG
    // invariant after union (Mergeable Summaries, Lemma 1)
    val off = ranked.agg(
      coalesce(max(when(col("__rn") === k + 1, col("c"))), lit(0L)).as("__off"))
    ranked.filter(col("__rn") <= k)
      .crossJoin(broadcast(off))
      .withColumn("count_lower", greatest(col("c") - col("__off"), lit(0L)))
      .filter(col("count_lower") > 0)
      .select(col("item"), col("count_lower"))
  }

  /** Two-pass refinement: sketch to find the ≤ k survivors, then ONE exact
    * aggregation restricted to them (broadcast semi-join — the survivors
    * set is ≤ k rows, so the second pass shuffles at most k item groups).
    * Exact counts for everything the sketch surfaced; the standard
    * production pairing for heavy-hitter dashboards. */
  def topItemsExact(df: DataFrame, itemCol: Column, k: Int): DataFrame = {
    val survivors = sketchTopItems(df, itemCol, k).select(col("item").as("__hh"))
    df.select(itemCol.cast("string").as("item"))
      .join(broadcast(survivors), col("item") === col("__hh"), "left_semi")
      .groupBy("item").agg(count(lit(1)).as("n"))
  }
}
