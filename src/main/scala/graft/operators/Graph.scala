package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.metrics.MetricsListener
import graft.pipeline.StageReport

/** Graph analytics over entity-relation pairs: integer-exact PageRank and
  * degree-ordered triangle counting. Both are standard corpus-curation
  * signals at web scale — PageRank is the canonical link-graph quality
  * weight for crawl-derived training data, and triangle participation
  * separates organically-linked pages from link-farm cliques.
  *
  * Determinism: PageRank is usually float-iterative and therefore not
  * reproducible across engines (summation order). Here ALL arithmetic is
  * 64-bit integer — scores live in fixed-point "micro-units" (`scale` per
  * node initially), each neighbor contribution is `score div deg` (exact,
  * order-independent), and damping is `(num * sum) div denom`. The same
  * unrolled arithmetic runs in any SQL engine, so even the iterative
  * operator is hash-oracle-checkable.
  *
  * Scale notes (100 TB): the per-iteration job is one shuffle — scores are
  * keyed by node, the contribution join keys edges by `src`, and the
  * receiving aggregation re-keys by `dst`; edges (the big side) are joined
  * pre-weighted with their out-degree ONCE and persisted, so iterations
  * never recompute degree. Each round is cut off with an eager
  * `localCheckpoint` (lineage truncation — the classic iterative-Spark
  * trap, see [[DupClusters]]). Triangle counting directs each undirected
  * edge from its lower-(degree, id) endpoint to the higher one, so a
  * node's out-neighborhood is O(sqrt(edges)) even at power-law hubs —
  * wedge generation is bounded by Σ C(d⁺, 2) over the DIRECTED degree
  * (the Suri–Vassilvitskii MapReduce bound), not the raw degree.
  */
object Graph {

  /** Distinct undirected edges (u < v) from a co-occurrence pairing:
    * items sharing a group key become pairwise edges. `maxGroupSize`
    * guards the C(n,2) per-group blowup — a degenerate group (one order
    * holding 10k parts at 100 TB) would otherwise emit 50M pairs from a
    * single key; real baskets are small, oversized ones are dropped
    * whole (the skew-cap pattern used across the dedup family). */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
                        maxGroupSize: Int = 1000): DataFrame =
    MetricsListener.withJobScope(df.sparkSession.sparkContext, "Graph.coOccurrenceEdges") {
    val pairs = df.select(col(groupCol).as("gk"), col(itemCol).cast("long").as("item")).distinct()
    val sized = pairs.groupBy("gk")
      .agg(collect_list("item").as("items"))
      .where(size(col("items")) between (2, maxGroupSize))
    // In-row pair expansion: one aggregation shuffle total, no self-join.
    // A/B against a windowed self-join at sf0.1 on a 4-core host, one
    // interleaved pair: 3.68/2.95 s vs 5.35/2.60 s cold/warm — no resolved
    // winner, so the single-shuffle form stays.
    sized.select(explode(expr(
      """filter(
         |  flatten(transform(items, (a, i) ->
         |    transform(slice(items, i + 2, size(items)), b ->
         |      struct(least(a, b) AS u, greatest(a, b) AS v)))),
         |  p -> p.u <> p.v)""".stripMargin)).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      // Eagerly materialized: every consumer (symmetrize's two union
      // branches, degree counts, the triangle closing probe) would
      // otherwise re-run the aggregation + pair explosion per reference.
      .localCheckpoint(true)
  }

  /** Both directions of an undirected (u, v) edge set. Union of two
    * projections, DELIBERATELY (round-18 A/B): an explode-of-struct-array
    * form reads the edge set once instead of twice, but this frame feeds
    * JOIN probes (PageRank's contribution join, BFS expansion, the CC
    * push join), where the per-row array+struct allocation of the
    * Generate showed no win over the codegen'd branch projections —
    * the union branches also column-prune independently, which the
    * packed struct cannot. The explode form IS the right shape for
    * endpoint AGGREGATIONS — see [[degrees]], which the round-18
    * interleaved A/B (OPTIMIZATION_r18.md §2) measured 3x cheaper that way. */
  def symmetrize(und: DataFrame): DataFrame =
    und.select(col("u").as("src"), col("v").as("dst"))
      .union(und.select(col("v").as("src"), col("u").as("dst")))

  /** Fixed-point PageRank over DIRECTED edges (src, dst), `iterations`
    * rounds, all-integer arithmetic (see object doc). Returns
    * (node, score) for every node with at least one out-edge; scores are
    * BIGINT micro-units (initially `scale` each). Dangling mass is
    * dropped, floor losses are not redistributed — both mirrored exactly
    * by the SQL oracle, so the trade is reproducibility, not accuracy
    * (ranking order matches float PageRank to well under one part in
    * 10^4 at scale=1e6). */
  def pageRank(edges: DataFrame, iterations: Int = 5, scale: Long = 1000000L,
               dampNum: Long = 85, dampDenom: Long = 100): DataFrame = {
    // Materialize the edge input ONCE (unless already scan-cheap): it
    // feeds both the degree count and the contribution join (and an
    // un-cut expensive input would otherwise run its upstream DAG once
    // per union branch per consumer).
    val e = Checkpoints.materializeOnce(edges)
    // Edges pre-joined with out-degree once: iterations pay one join + one
    // aggregation, never a degree recount. Persisted across rounds.
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgesDeg = e.join(deg, col("src") === col("node"))
      .select(col("src"), col("dst"), col("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = (scale * (dampDenom - dampNum)) / dampDenom
    // The round recurrence is shaped so `scores` is referenced exactly
    // ONCE per round (the static `deg` frame, not last round's scores, is
    // the left side of the receive join) — the lineage is LINEAR in the
    // iteration count, so a FIXED small round count needs no per-round
    // checkpoint barrier and the whole computation is one lazy DAG:
    // Catalyst sees every round, AQE broadcasts the node-sized score
    // frame into the edge join, and nothing materializes until the
    // caller's action. (Unbounded convergence loops are different — see
    // [[DupClusters]] for the checkpointed variant.)
    var scores = deg.select(col("node"), lit(scale).as("score"))
    for (_ <- 1 to iterations) {
      val recv = scores.join(edgesDeg, col("node") === col("src"))
        .select(col("dst"), expr("score div deg").as("c"))
        .groupBy(col("dst").as("rnode"))
        .agg(sum(col("c")).as("csum"))
      scores = deg.join(recv, col("node") === col("rnode"), "left")
        .select(col("node"),
          (lit(base) + expr(s"($dampNum * coalesce(csum, 0L)) div $dampDenom")).as("score"))
    }
    scores
  }

  /** Minimum hop distance from a seed set over DIRECTED edges, explored to
    * `maxDepth` rounds — the label-propagation primitive behind crawl-depth
    * analysis and TrustRank-style "distance from a trusted core" quality
    * signals (seed-reachable pages within k hops are the trusted tier).
    *
    * All-integer (hop counts), so exact and hash-oracle-checkable against
    * an unrolled SQL recurrence. Returns (node, dist) for nodes reachable
    * within `maxDepth` hops (seeds at 0); unreachable nodes are absent.
    *
    * Frontier-based expansion (the textbook BFS invariant made
    * distributed): a BFS label is FINAL the round it is assigned, so only
    * the nodes labeled LAST round push — re-pushing from the whole
    * labeled set (the naive recurrence) re-derives every already-known
    * distance each round, and its edge join grows with the labeled set
    * instead of shrinking with the frontier. Rounds then need no
    * min-aggregation at all: new labels are disjoint from old by the
    * anti-join, so the distance table grows by pure union. An exhausted
    * frontier short-circuits remaining rounds (cheap — the frontier is
    * already materialized by the round's checkpoint cut).
    *
    * The expansion join BROADCASTS the frontier and STREAMS the edges —
    * explicitly: both sides are checkpoint scans whose compile-time
    * stats are origin-plan guesses, and at sf1 the planner's guess
    * inverted the build side, collecting the 24M-row edge set to the
    * driver as a ~400MB hashed relation once per round (round-14
    * profiling: the query's hot task and its GC-variance source). The
    * frontier is bounded by the seed-reachable set — node-sized, the
    * side a human would broadcast, ROW-GUARDED per round by
    * [[Checkpoints.broadcastWithin]]. The row count is free: it replaces
    * the emptiness probe the loop already paid, read from the round's
    * eager checkpoint. */
  def seedDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame =
    seedDistancesWithin(edges, seeds, maxDepth, Checkpoints.BroadcastRowLimit)

  /** [[seedDistances]] with the frontier's row limit (the specs' shuffle-join seam). */
  private[operators] def seedDistancesWithin(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
                                             rowLimit: Long): DataFrame =
    MetricsListener.withJobScope(edges.sparkSession.sparkContext, "Graph.seedDistances") {
    val e = Checkpoints.materializeOnce(edges)
    // Spread floor scoped to the loop: each round's frontier dedup is the
    // CPU-dense small-byte final aggregate byte-based AQE coalescing
    // funnels into one task at scale (q109's sf1 hot task), and every
    // round materializes eagerly inside this bracket so the floor applies
    // to exactly those jobs ([[Checkpoints.withSpreadFloor]]).
    Checkpoints.withSpreadFloor(edges.sparkSession) {
      var dist = seeds.select(col("node").cast("long").as("node"), lit(0L).as("dist"))
        .distinct().localCheckpoint(true)
      var frontier = dist
      var frontierRows = frontier.count()
      var r = 1
      while (r <= maxDepth && frontierRows > 0) {
        val newNodes = expandOnce(e, Checkpoints.broadcastWithin(frontier, frontierRows, rowLimit),
          dist, r).localCheckpoint(true)
        dist = dist.union(newNodes).localCheckpoint(true)
        frontier = newNodes
        frontierRows = frontier.count()
        r += 1
      }
      dist
    }
  }

  /** One BFS round, un-checkpointed: the frontier's one-hop reach minus
    * everything already labeled. Package-private so the plan spec can pin
    * the build side of the REAL round body (the loop's checkpoints hide
    * the inner joins from the final plan). */
  private[operators] def expandOnce(e: DataFrame, frontier: DataFrame,
                                    dist: DataFrame, r: Int): DataFrame =
    frontier.join(e, col("node") === col("src"))
      .select(col("dst").as("node")).distinct()
      .join(dist, Seq("node"), "left_anti")
      .select(col("node"), lit(r.toLong).as("dist"))

  /** Per-node triangle participation counts over undirected edges (u < v).
    * Each edge is directed low→high by (degree, id) rank; wedges are pairs
    * of out-neighbors of a common low node, closed by probing the
    * undirected edge set. Every triangle is found exactly once (from its
    * minimum-rank corner). Returns (node, n_tri) for nodes in ≥1 triangle.
    * The node-sized degree and adjacency tables are broadcast (right for
    * item graphs where nodes ≪ edges) through [[Checkpoints.broadcastWithin]]
    * on row counts observed on their own checkpoints. */
  def triangleCounts(und: DataFrame): DataFrame =
    triangleCountsWithin(und, Checkpoints.BroadcastRowLimit)

  /** [[triangleCounts]] with the tables' row limit (the specs' shuffle-join seam). */
  private[operators] def triangleCountsWithin(und: DataFrame, rowLimit: Long): DataFrame =
    MetricsListener.withJobScope(und.sparkSession.sparkContext, "Graph.triangleCounts") {
    // Materialized once: the undirected set feeds degree counting (twice,
    // via symmetrize's union), edge direction, and the closing probe.
    val u = Checkpoints.materializeOnce(
      und.select(col("u").cast("long").as("u"), col("v").cast("long").as("v")))
    // Endpoint-degree via the explode form (one pass over the cached
    // edge base, both endpoints combined in the same partial map) — the
    // round-18 A/B shape (OPTIMIZATION_r18.md §2); see [[degrees]].
    // Materialized ONCE (node-sized): it feeds TWO broadcast builds below,
    // and the two directed-edge consumers double that — un-cut, the plan
    // rebuilt this aggregation 4x as broadcast inputs (round-18 after-plan
    // nodes 3-7/11-15/20-24/28-32; the round-19 interleaved A/B in
    // OPTIMIZATION_r19.md §2 reads the cut as 5.10→4.07 s cold,
    // 1.86→1.68 s warm at sf0.1).
    val (deg, degRows) = checkpointCounted(
      degrees(u).select(col("node").as("n"), col("deg").as("d")), "the triangle degree table")
    // Direct each edge from its lower-(deg, id) endpoint. Rank packs into a
    // single struct comparison so the join condition stays codegen-simple.
    val dl = Checkpoints.broadcastWithin(deg, degRows, rowLimit)
    val withDeg = u
      .join(dl.select(col("n").as("u2"), col("d").as("du")), col("u") === col("u2"))
      .join(dl.select(col("n").as("v2"), col("d").as("dv")), col("v") === col("v2"))
      .select(col("u"), col("v"), col("du"), col("dv"))
    val directed = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u")).otherwise(col("v")).as("lo"),
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v")).otherwise(col("u")).as("hi"))
    // Edge-iterator with adjacency intersection (the sorted-adjacency
    // classic): a triangle ranked a≺b≺c is found EXACTLY once, at its
    // (a, b) edge, as c ∈ N⁺(a) ∩ N⁺(b) — so no wedge set (Σ C(d⁺,2)
    // rows, 41M at sf0.1 here) ever materializes. Per directed edge the
    // work is one in-row intersect of two out-neighbor arrays, each
    // bounded ~O(√E) by the degree ordering. The node-keyed adjacency
    // table is |E| longs total — broadcast under the same item-graph
    // assumption and row gate as the degree table.
    // Materialized for the same reason as `deg`: two broadcast builds
    // below would otherwise each re-run the adjacency aggregation AND
    // its whole `directed` upstream (base scan + two broadcast probes).
    val (adj, adjRows) = checkpointCounted(
      directed.groupBy(col("lo").as("n")).agg(collect_list(col("hi")).as("nbrs")),
      "the triangle adjacency table")
    val adjB = Checkpoints.broadcastWithin(adj, adjRows, rowLimit)
    // Inner joins: an edge whose `hi` endpoint has no out-neighbors closes
    // no triangle, so it can drop out before the intersect.
    val tris = directed
      .join(adjB.select(col("n").as("n1"), col("nbrs").as("nb1")), col("lo") === col("n1"))
      .join(adjB.select(col("n").as("n2"), col("nbrs").as("nb2")), col("hi") === col("n2"))
      .select(col("lo"), col("hi"),
        explode(array_intersect(col("nb1"), col("nb2"))).as("w"))
    tris.select(explode(array(col("lo"), col("hi"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** k-core decomposition by synchronous peeling, `rounds` fixed rounds:
    * each round drops every edge with an endpoint of current degree < k
    * (all deletions in a round are simultaneous — deterministic, no
    * peel-order dependence). Returns (node, deg) for the endpoints of the
    * surviving edge set with their within-core degree. With `rounds` at
    * the fixpoint (reached in ≤ a few rounds on real graphs; assert with
    * [[kCoreConverged]]) this IS the k-core: the maximal subgraph where
    * every node has ≥ k neighbors inside it.
    *
    * Why fixed rounds instead of loop-until-stable: the round count is
    * part of the operator's contract, which makes a 5-round run
    * hash-comparable against an engine-independent oracle (same trick as
    * [[pageRank]]); convergence is then a separate, checkable claim.
    * Rounds past the fixpoint are provably the identity, so peeling
    * early-exits on the first empty drop set without moving a hash
    * (see [[kCorePeelCounted]]).
    *
    * Scale shape per round: one map-side-combinable degree count + two
    * equi-joins of the edge set against the (node-sized, shrinking)
    * survivor set — no per-node iteration state, lineage is linear in
    * `rounds`, and each round is checkpointed so the DAG never re-derives
    * earlier rounds through the double edge reference. */
  def kCorePeel(und: DataFrame, k: Int, rounds: Int): DataFrame =
    kCorePeelCounted(und, k, rounds)._1

  /** [[kCorePeel]] plus the number of edge-filter rounds actually
    * EXECUTED — peeling early-exits as soon as a round's drop set is
    * empty, because an empty drop makes every remaining round the
    * identity (the anti-joins filter nothing, the degrees don't move).
    * The fixed-round hash contract is therefore preserved bit-for-bit
    * while real graphs, which converge in a few rounds, stop paying for
    * the requested-round tail. The drop set's row count, observed on its
    * own eager checkpoint, feeds both the emptiness test and the
    * broadcast gate without a job. */
  private[operators] def kCorePeelCounted(
      und: DataFrame, k: Int, rounds: Int,
      rowLimit: Long = Checkpoints.BroadcastRowLimit): (DataFrame, Int) = {
    require(k >= 1 && rounds >= 1, "k >= 1, rounds >= 1")
    MetricsListener.withJobScope(und.sparkSession.sparkContext, "Graph.kCorePeel") {
    var edges = Checkpoints.materializeOnce(
      und.select(col("u").cast("long").as("u"), col("v").cast("long").as("v")))
    var executed = 0
    var fixpoint = false
    while (executed < rounds && !fixpoint) {
      // Filter by the DROP set (deg < k), not the keep set: drops are
      // node-sized (and shrink every round), so under the item-graph
      // assumption both filters are broadcast anti-joins and the
      // edge-scale frame never shuffles inside a round — only the degree
      // count's map-side-combined (node, n) rows do.
      // Only the NODE-SIZED drop set is checkpointed per round; the edge
      // frame stays a lazy filter chain over the one materialized base,
      // so a round costs a base scan + r broadcast hash probes instead of
      // re-materializing the edge-scale frame (checkpointing edges each
      // round benched 2x slower at sf0.1). The drop checkpoint still cuts
      // the double reference (degrees + filter), keeping lineage linear.
      // Base CACHE FORMAT adjudicated round 19 (OPTIMIZATION_r19.md,
      // interleaved ×2): swapping the localCheckpoint base for the SQL
      // columnar cache (vectorized InMemoryTableScan) read 2.71 vs 2.91 s
      // and 4.58 vs 5.39 s warm in checkpoint's favor — the per-round
      // degree scan is bounded by the anti-join probe chain, not row
      // deserialization. Rejected; the checkpoint base stays.
      val (drop0, dropRows) = checkpointCounted(
        degrees(edges).where(col("deg") < k).select("node"), s"k-core peel round $executed")
      if (dropRows == 0L) fixpoint = true
      else {
        val drop = Checkpoints.broadcastWithin(drop0, dropRows, rowLimit)
        edges = edges
          .join(drop.select(col("node").as("u")), Seq("u"), "left_anti")
          .join(drop.select(col("node").as("v")), Seq("v"), "left_anti")
        executed += 1
      }
    }
    (degrees(edges), executed)
    }
  }

  /** True when one more peel round changes nothing — i.e. `rounds` already
    * reached the k-core fixpoint on this graph. A round changes nothing
    * iff NO surviving node has degree < k, so this is one peel + one
    * filter on its final degrees — not a second full peel. */
  def kCoreConverged(und: DataFrame, k: Int, rounds: Int): Boolean =
    kCorePeel(und, k, rounds).where(col("deg") < k).isEmpty

  /** `df.localCheckpoint(eager = true)` with its row count, observed on
    * that same job: no count job, and no job at all beyond the cut. */
  private def checkpointCounted(df: DataFrame, what: String): (DataFrame, Long) = {
    val obs = Observation()
    val cut = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    (cut, StageReport.awaitObserved(obs, what).getAs[Long]("n"))
  }

  /** Undirected degree per endpoint node of (u, v) edges. Explode form
    * for the same reason as [[symmetrize]] — this count runs once per
    * peel round (6× per q126), so the single-scan shape is the one the
    * loop pays for. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
}
