package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.metrics.MetricsListener
import graft.pipeline.StageReport

/** Duplicate clustering: connected components over near-duplicate pairs,
  * assigning every involved document the MINIMUM doc id of its component —
  * the canonical-document selection step that turns pairwise near-dup
  * output ([[NearDup]], [[Similarity.cosineNearDupPairs]]) into "keep this
  * one, drop those".
  *
  * Algorithm: hash-to-min label propagation with a pointer-jumping
  * shortcut. Each round (a) pushes labels one hop across edges and keeps
  * the per-node minimum, then (b) shortcuts through the label graph
  * (`L(v) ← min(L(v), L(L(v)))`). The one-hop step alone converges in
  * component-diameter rounds; the shortcut roughly doubles the label
  * horizon per round, so chains converge in O(log diameter) rounds —
  * near-dup components are usually shallow, but real corpora do produce
  * chain-shaped components (A~B~C where A≁C) and diameter rounds on those
  * is the classic iterative-Spark tail.
  *
  * Per-round cost: the edge-propagation job (join + union + min-agg over
  * (id, label) pairs) plus a cheap label-table-only jump join — and NO
  * separate convergence probe: the changed-label count is an `observe`
  * metric collected during the round's own materializing action, replacing
  * the old join + isEmpty job. Rounds are cut off with an EAGER
  * localCheckpoint: persist alone truncates recomputation but NOT lineage,
  * and the logical plan of an iterated frame otherwise grows per round
  * until analysis itself dominates (the classic iterative-Spark trap).
  *
  * Stopping rule: changed == 0 means this round's labels equal last
  * round's; the process is deterministic, so that is a fixpoint. (At a
  * one-hop fixpoint every node's label is ≤ all neighbors' labels, which
  * on a connected component forces all labels equal to the min — so the
  * fixpoint IS full convergence, not a plateau.)
  */
object DupClusters {

  /** `edges` needs columns (id_a, id_b). Returns (id, cluster_id) for every
    * id appearing in an edge; docs with no near-dup pair are their own
    * implicit singleton cluster and are not emitted.
    *
    * The push join BROADCASTS the label table and STREAMS the edges —
    * explicitly, because both sides are checkpoint scans whose
    * compile-time stats are guesses and the planner inverted the build
    * side at sf1 (broadcasting the 24M-row symmetrized edge set once per
    * round — the q109 inversion class, round-14 plan audit). Labels are
    * node-sized (≤ the docs participating in ≥1 near-dup pair), the side
    * a human would broadcast, gated by [[Checkpoints.broadcastWithin]] on
    * the label count, which rides the round's existing observe metric. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame =
    connectedComponentsWithRounds(edges, maxIter)._1

  /** Same, also returning the number of propagation rounds executed —
    * exposed for round-complexity assertions in tests, and `rowLimit`
    * for the shuffle-join path. */
  private[graft] def connectedComponentsWithRounds(
      edges: DataFrame, maxIter: Int = 30,
      rowLimit: Long = Checkpoints.BroadcastRowLimit): (DataFrame, Int) =
    MetricsListener.withJobScope(edges.sparkSession.sparkContext, "DupClusters") {
    val BIG = Long.MaxValue
    // Materialize the edge input ONCE before symmetrizing: both union
    // branches reference `edges`, and without the cut the upstream pair-
    // generation DAG (often the expensive near-dup candidate join) would
    // execute twice just to build `sym`.
    val e0 = edges.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .localCheckpoint(true)
    // NOT persisted: a union of two projections over e0's checkpointed
    // blocks re-derives at scan cost once per round, which beats holding
    // a second full deserialized copy of the edges in block storage (the
    // object-churn GC class [[Checkpoints.materializeOnce]] documents).
    // Union, not explode-of-struct-array: this frame feeds the push JOIN
    // probe, where the Generate's per-row allocations showed no win
    // (round-18 A/B — the explode form is only kept for endpoint
    // aggregations, see [[Graph.degrees]]).
    val sym = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
    // Spread floor scoped to the label-propagation loop (and the init
    // aggregation, the same edge-scale-in/node-sized-out shape): the
    // per-round min-agg over pushed ∪ self is the CPU-dense small-byte
    // class byte-based AQE coalescing funnels into one task at scale;
    // every round materializes eagerly inside this bracket
    // ([[Checkpoints.withSpreadFloor]]).
    Checkpoints.withSpreadFloor(edges.sparkSession) {
    // Seed with min(self, direct neighbors) — propagation round zero fused
    // into the init aggregation; diameter-1 components (plain duplicate
    // pairs, the overwhelming majority) then converge after one check.
    var labels = sym.groupBy(col("src").as("id"))
      .agg(least(col("src").as("id"), min(col("dst"))).as("cluster_id"))
      .localCheckpoint(true)
    var labelRows = labels.count() // cached read; rounds update it for free
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // (a) one-hop push: neighbors' labels arrive tagged with prev=BIG so
      // min(prev) recovers each node's own previous label for the change
      // count — no second pass over last round's frame.
      val pushed = Checkpoints.broadcastWithin(labels, labelRows, rowLimit)
        .join(sym, col("id") === col("src"))
        .select(col("dst").as("id"), col("cluster_id"), lit(BIG).as("prev"))
      val self = labels.select(col("id"), col("cluster_id"), col("cluster_id").as("prev"))
      // Eager checkpoint BEFORE the jump self-join: joining a plan that
      // contains a Union with itself trips Catalyst's Union constraint
      // rewrite (the dedup-relations re-aliasing leaves the Union's cached
      // constraint set referencing stale exprIds → key-not-found during
      // planning). Checkpointing flattens the subtree to a LogicalRDD, and
      // the heavy work (join + union + agg) runs exactly once per round.
      val obs1 = Observation()
      val oneHop = pushed.union(self)
        .groupBy("id")
        .agg(min("cluster_id").as("lbl"), min("prev").as("prev"))
        .observe(obs1, sum(when(col("lbl") < col("prev"), 1L).otherwise(0L)).as("changed"),
          count(lit(1)).as("n")) // next round's label count, free
        .localCheckpoint(true)
      val m = StageReport.awaitObserved(obs1, s"DupClusters round $i")
      labelRows = m.getAs[Long]("n")
      // sum over an empty round is SQL NULL — treat as converged
      if (m.isNullAt(m.fieldIndex("changed")) || m.getAs[Long]("changed") == 0L) {
        // one-hop fixpoint IS full convergence (see Scaladoc) — skip the
        // jump join entirely; this is every run's terminal round, and for
        // diameter-1 corpora (plain duplicate pairs) the only round.
        converged = true
      } else {
        // (b) pointer jump: follow each node's label to THAT node's label.
        // Every label is itself a node id (it is the min of ids seen), so
        // the left join always finds it unless the labelled node kept
        // itself. This second job only joins the two checkpointed label
        // tables — cheap relative to the edge-propagation job above.
        // No convergence check here: when one-hop changed a label, the
        // jump result differs from last round by construction, so only the
        // NEXT round's one-hop metric can detect the fixpoint.
        val prop = oneHop.as("x")
          .join(oneHop.select(col("id").as("yid"), col("lbl").as("ylbl")).as("y"),
            col("x.lbl") === col("y.yid"), "left")
          .select(col("x.id").as("id"),
            least(col("x.lbl"), coalesce(col("ylbl"), col("x.lbl"))).as("cluster_id"))
          .localCheckpoint(true) // eager: truncates the per-round lineage
        labels = prop
      }
      i += 1
    }
    (labels, i)
    }
  }
}
