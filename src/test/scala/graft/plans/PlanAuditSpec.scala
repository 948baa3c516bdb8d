package graft.plans

import graft.SparkSpec

/** Engine-wide plan audit: every registered verify query's physical plan is
  * checked for the scale anti-patterns SURVEY §5 bans — no cartesian
  * products and no broadcast-nested-loop joins outside the explicit
  * allowlist (a 1-row broadcast scalar is fine; an accidental
  * condition-less join of two corpus-scale sides is not). Catches the
  * classic regression where a refactor drops a join condition and the
  * planner silently degrades to O(n·m). */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries allowed a BroadcastNestedLoopJoin, with why. */
  private val bnljAllowed: Map[String, String] = Map(
    "q20_cosine_topk" -> "tiny fixed query-vector set vs corpus (bounded side)",
    "q156_ann_recall" -> ("runs q20/q26/q33's list plans to measure their recall — " +
      "inherits exactly q20's and q33's allowlisted broadcast query-set x corpus products; " +
      "the harness's own overlap joins are (qid, nid) equi-joins"),
    "q33_ivf_ann" -> "tiny fixed query-vector set vs corpus (bounded side)",
    "q76_ivf_multiprobe" -> ("same IVF assignment shape as q33 (broadcast centroid cross for the " +
      "packed-long argmax) plus the query-side top-nprobe centroid scoring — both broadcast sides " +
      "are the tiny centroid sample"),
    "q29_cosine_neardup" -> "deliberate all-pairs EXACT baseline (L12); q52 is the LSH scale path",
    "q53_tfidf_topk" -> ("1-row corpus-count aggregate broadcast into the vocabulary-sized dfreq " +
      "frame — a single-row build side is exactly what BNLJ is optimal for (an equi-join on a " +
      "constant key folds back to this), and its codegen is clean since the TopKPerKeyExec " +
      "usedInputs fix"),
    "q72_bm25" -> ("same shape as q53: the 1-row (N, Σdl) corpus-totals aggregate broadcast into " +
      "the |terms|-bounded dfq frame — single-row build side, BNLJ-optimal by construction"),
    "q79_kmeans_assign" -> ("k-means E-step: the k-row seed-centroid set broadcast-crossed with " +
      "the corpus for the packed-long argmin — same bounded-build shape as the IVF assignment"),
    "q80_semantic_prune" -> ("seed assignment inside semanticPrune shares q79's broadcast " +
      "centroid cross; the prune pair join itself is cluster-keyed equality"),
    "q82_proto_prune" -> ("prototypicality pruning ranks q79's assignment output — same " +
      "broadcast centroid cross, then one cid-partitioned window"),
    "q91_lm_quality" -> ("same shape as q53/q72: the 1-row corpus-token-total aggregate " +
      "broadcast into the token stream for the rarity quotient — single-row build side, " +
      "BNLJ-optimal by construction"),
    "q92_dsir_weights" -> ("same 1-row totals-broadcast shape as q91 (corpus/target gram " +
      "totals + vocabulary size crossed into the gram stream)"),
    "q94_collocations" -> ("same 1-row corpus-total broadcast as q53/q72/q91 crossed into " +
      "the supported-pairs frame for the lift quotient"),
    "q98_priority_sample" -> ("the 1-row τ-threshold aggregate broadcast-crossed into the " +
      "k-row sample — single-row build side over a bounded (k-row) stream side"),
    "q106_quantized_ann" -> "tiny fixed query-vector set vs corpus (bounded side), same shape as q20",
    "q108_neg_sample" -> ("the 1-row corpus-count aggregate broadcast-crossed into the ordinal " +
      "frame for the modulus — same single-row build shape as q53/q72"),
    "q112_gap_fill" -> ("the day spine crossed with the group domain — BOTH sides bounded " +
      "metadata (calendar days x event types), the group side broadcast"),
    "q113_dedup_eval" -> ("embeds q29's deliberate all-pairs EXACT baseline as the ground " +
      "truth it measures the LSH pass against — the harness is exactly as expensive as the " +
      "exact baseline it evaluates, by definition"),
    "q119_source_overlap" -> ("pairwiseJaccard's source-pair spine crosses the bounded " +
      "group domain with itself (ga < gb) — both sides are sketch METADATA (distinct " +
      "groups), and everything downstream is k-row-per-group sketch tables"),
    "q124_basket_rules" -> ("the 1-row basket-count aggregate broadcast-crossed into the " +
      "rule frame for the lift denominator — same single-row build shape as q53/q72/q98"),
    "q129_ab_test" -> ("the variant-pair spine (va < vb) self-joins the per-variant " +
      "aggregate — |variants| rows of bounded experiment metadata, the q119 group-pair " +
      "shape; the data-scale work collapsed in the per-variant agg before it"),
    "q145_cluster_sizes" -> ("the singleton row crosses TWO 1-row count aggregates " +
      "(total docs x clustered docs) — both sides single-row by construction"),
    "q148_blocklist_sweep" -> ("the threshold spine (<= maxThreshold rows) joined " +
      "on >= against the metadata-sized critical-count histogram — both sides " +
      "bounded by construction, the q112 spine shape"),
    "q172_heavy_hitters" -> ("the 1-row corpus-total aggregate broadcast-crossed " +
      "into the per-item exact counts for the n/(k+1) guarantee threshold — " +
      "the q124/q145 single-row build shape"))

  test("no registered query plans a cartesian product or stray BNLJ") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val bnljHits = scala.collection.mutable.Set.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(ss, sfDir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin")) {
        bnljHits += name
        if (!bnljAllowed.contains(name))
          offenders += s"$name: BroadcastNestedLoopJoin"
      }
    }
    assert(offenders.isEmpty, s"scale anti-patterns:\n${offenders.mkString("\n")}")
    val stale = bnljAllowed.keySet -- bnljHits
    assert(stale.isEmpty,
      s"allowlist entries no longer planning a BroadcastNestedLoopJoin (prune them): $stale")
  }

  /** Queries allowed an unpartitioned WindowExec (single-partition window),
    * with why each frame is BOUNDED METADATA, not data-scale. These are the
    * only ALLOWLISTED sites that may emit Spark's "No Partition Defined for
    * Window operation" WARN — seeing it anywhere else is a 100TB cliff. */
  private val globalWindowAllowed: Map[String, String] = Map(
    "q107_global_rank" -> ("GlobalRank's prefix-sum frame is the PER-PARTITION " +
      "COUNT table (spark.sql.shuffle.partitions rows, not data rows) — the " +
      "whole point of the operator is that the data-scale sort stays " +
      "partitioned and only partition counts funnel through one task"),
    "q108_neg_sample" -> ("Contrastive rides GlobalRank for its dense ordinals; " +
      "the same partition-count offsets frame plans under both join branches " +
      "of the partner self-join, hence two bounded-metadata window nodes"),
    "q151_wave_schedule" -> ("Waves rides GlobalRank — the same " +
      "partition-count offsets frame as q107; wave id is arithmetic on " +
      "the ordinal"),
    "q161_collections_e2e" -> ("the flagship's wave stage is q151's Waves/" +
      "GlobalRank — the same partition-count offsets frame; everything " +
      "upstream (aging, policy, dunning) is debtor-partitioned aggregates"),
    "q127_concurrency" -> ("Intervals' sweep runs over the CALENDAR-GRAIN " +
      "boundary-event frame (2 rows per interval, bounded by the day spine " +
      "domain at any scale the report is readable at); the scale contract " +
      "is documented at Intervals.scala's sweep"),
    "q98_priority_sample" -> ("prioritySample ranks only the k+1 SURVIVORS of " +
      "the bounded-heap native top-k to split sample vs threshold row — a " +
      "k-bounded frame; the corpus-scale selection never touches a window"),
    "q141_rfm" -> ("exact RFM quintiles percent-rank the PER-CUSTOMER aggregate " +
      "(three windows, one per metric) — the documented honest cost of exact " +
      "global ranks, fine to ~1e7 customers; Rfm.segment(approx = true) is " +
      "the sketch-ranked no-single-partition scale path"),
    "q172_heavy_hitters" -> ("HeavyHitters' merge prune ranks the SUMMED " +
      "per-partition MG counters — a <= k x partitions row frame regardless " +
      "of data scale (that bound is the operator's whole point); the frame " +
      "plans under both the offset aggregate and the survivor filter, hence " +
      "two bounded-metadata window nodes (the q108 double-branch shape)"))

  test("unpartitioned windows appear only at the allowlisted bounded-metadata sites") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // AQE wraps the real plan in AdaptiveSparkPlanExec, which exposes no
    // children to TreeNode.collect — descend into it explicitly.
    def unpartWindows(p: SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case a: AdaptiveSparkPlanExec => unpartWindows(a.executedPlan)
      }.flatten
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val hits = scala.collection.mutable.Set.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val unpart = unpartWindows(fn(ss, sfDir).queryExecution.executedPlan)
      if (unpart.nonEmpty) {
        hits += name
        if (!globalWindowAllowed.contains(name))
          offenders += s"$name: ${unpart.size} unpartitioned WindowExec node(s)"
      }
    }
    assert(offenders.isEmpty,
      s"single-partition window outside the allowlist (100TB cliff):\n${offenders.mkString("\n")}")
    val stale = globalWindowAllowed.keySet -- hits
    assert(stale.isEmpty,
      s"allowlist entries no longer planning an unpartitioned window (prune them): $stale")
  }
}
