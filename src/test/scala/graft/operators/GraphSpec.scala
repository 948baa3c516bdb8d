package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import ss.implicits._

  private def edges(ps: (Long, Long)*) = ps.toDF("u", "v")

  test("coOccurrenceEdges emits distinct canonical pairs and caps group size") {
    val df = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (1L, 10L), // dup (1,10) collapses
      (2L, 20L),                                  // singleton group: no pairs
      (3L, 30L), (3L, 31L)
    ).toDF("gk", "item")
    val e = Graph.coOccurrenceEdges(df, "gk", "item").as[(Long, Long)].collect().toSet
    assert(e == Set((10L, 11L), (10L, 12L), (11L, 12L), (30L, 31L)))
    val capped = Graph.coOccurrenceEdges(df, "gk", "item", maxGroupSize = 2)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((30L, 31L)), "3-item group must be dropped whole at cap 2")
  }

  test("pageRank: any regular graph is an exact fixed point at integer scale") {
    // Triangle (3-cycle): deg 2 everywhere. contrib = 1e6/2 per neighbor,
    // received 1e6 -> 150000 + 85*1e6/100 = 1e6 again.
    val und = edges((1L, 2L), (2L, 3L), (1L, 3L))
    val pr = Graph.pageRank(Graph.symmetrize(und), iterations = 5)
      .as[(Long, Long)].collect().toMap
    assert(pr == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
  }

  test("pageRank: star center dominates leaves with hand-computed round-1 values") {
    val und = edges((0L, 1L), (0L, 2L), (0L, 3L))
    val pr1 = Graph.pageRank(Graph.symmetrize(und), iterations = 1)
      .as[(Long, Long)].collect().toMap
    // center receives 3 * (1e6 div 1) = 3e6 -> 150000 + 85*3e6 div 100 = 2700000
    // leaf receives 1e6 div 3 = 333333  -> 150000 + (85*333333) div 100 = 433333
    assert(pr1(0L) == 2700000L)
    assert(pr1(1L) == 433333L && pr1(2L) == 433333L && pr1(3L) == 433333L)
    val pr5 = Graph.pageRank(Graph.symmetrize(und), iterations = 5)
      .as[(Long, Long)].collect().toMap
    assert(pr5(0L) > pr5(1L), "center must outrank leaves after convergence")
  }

  test("triangleCounts: K4 gives every node 3 triangles; squares give none") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val t = Graph.triangleCounts(k4).as[(Long, Long)].collect().toMap
    assert(t == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val square = edges((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    assert(Graph.triangleCounts(square).isEmpty)
  }

  test("triangleCounts: triangle with pendant counts only the cycle nodes") {
    val g = Graph.triangleCounts(edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 9L)))
      .as[(Long, Long)].collect().toMap
    assert(g == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("seedDistances: hop labels on a path graph, capped at maxDepth, unreachable absent") {
    // path 1-2-3-4-5, island 9-10; seed = {1}
    val und = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 10L))
    val seeds = Seq(1L).toDF("node")
    val d3 = Graph.seedDistances(Graph.symmetrize(und), seeds, maxDepth = 3)
      .as[(Long, Long)].collect().toMap
    assert(d3 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L),
      "5 is 4 hops away and the island is unreachable — both absent")
    val d1 = Graph.seedDistances(Graph.symmetrize(und), seeds, maxDepth = 1)
      .as[(Long, Long)].collect().toMap
    assert(d1 == Map(1L -> 0L, 2L -> 1L))
  }

  test("seedDistances shuffle-join path (frontier past the row limit) matches") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val seeds = Seq(1L).toDF("node")
    def run(limit: Long) = Graph.seedDistancesWithin(Graph.symmetrize(und), seeds,
      maxDepth = 3, rowLimit = limit).as[(Long, Long)].collect().toMap
    assert(run(Checkpoints.BroadcastRowLimit) == run(0L))
    assert(run(0L) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("triangleCounts shuffle-join path (tables past the row limit) matches") {
    // K4 (4 triangles, 3 per node) plus a triangle sharing node 4 and a pendant
    val und = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L))
    def run(limit: Long) = Graph.triangleCountsWithin(und, rowLimit = limit)
      .as[(Long, Long)].collect().toMap
    assert(run(Checkpoints.BroadcastRowLimit) == run(0L))
    assert(run(0L) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 1L, 6L -> 1L))
  }

  test("kCorePeel shuffle-join path (drop set past the row limit) matches") {
    val und = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    def run(limit: Long) = Graph.kCorePeelCounted(und, k = 2, rounds = 5, rowLimit = limit)
    val (hinted, hintedRounds) = run(Checkpoints.BroadcastRowLimit)
    val (shuffled, shuffledRounds) = run(0L)
    assert(hintedRounds == 2 && shuffledRounds == 2)
    assert(hinted.as[(Long, Long)].collect().toMap == shuffled.as[(Long, Long)].collect().toMap)
    assert(shuffled.as[(Long, Long)].collect().toMap == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("seedDistances: a node reachable from two seeds takes the minimum") {
    val und = edges((1L, 5L), (2L, 5L), (5L, 6L))
    val d = Graph.seedDistances(Graph.symmetrize(und), Seq(1L, 6L).toDF("node"), 2)
      .as[(Long, Long)].collect().toMap
    assert(d(5L) == 1L && d(6L) == 0L && d(1L) == 0L && d(2L) == 2L)
  }

  test("pageRank conserves near-total mass on a regular graph and stays all-BIGINT") {
    val und = edges((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)) // 4-cycle, regular
    val pr = Graph.pageRank(Graph.symmetrize(und), iterations = 3)
    assert(pr.schema("score").dataType.typeName == "long")
    val total = pr.agg(sum("score")).as[Long].head()
    assert(total == 4L * 1000000L, "regular graph keeps exact total mass")
  }

  test("kCorePeel: pendant chain peels away leaving the K4 2-core") {
    // K4 on 1..4 plus a tail 4-5-6: peeling k=2 removes 6 (deg 1), then 5,
    // a 2-round cascade; the K4 survives with in-core degree 3.
    val und = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    val core = Graph.kCorePeel(und, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $core")
  }

  test("kCorePeel: synchronous rounds — a too-small round budget stops mid-cascade") {
    val und = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    // One round only: 6 is gone (deg 1), but 5 (deg 2 before the round)
    // survives attached to 4 — mid-cascade state, deterministic.
    val r1 = Graph.kCorePeel(und, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 1L), s"got $r1")
    assert(!Graph.kCoreConverged(und, k = 2, rounds = 1))
    assert(Graph.kCoreConverged(und, k = 2, rounds = 2))
  }

  test("kCorePeel: k above the densest core empties the graph") {
    val und = edges((1L, 2L), (2L, 3L), (1L, 3L)) // triangle: 2-core only
    assert(Graph.kCorePeel(und, k = 3, rounds = 3).count() == 0L)
  }

  test("kCorePeel: early-exits at the fixpoint without moving the result") {
    // 6-5-4 tail cascade converges in 2 rounds; a 100-round budget must
    // execute exactly 2 edge-filter rounds and return the same core.
    val und = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    val (core100, executed) = Graph.kCorePeelCounted(und, k = 2, rounds = 100)
    val m100 = core100.as[(Long, Long)].collect().toMap
    val m2 = Graph.kCorePeel(und, k = 2, rounds = 2).as[(Long, Long)].collect().toMap
    assert(executed == 2, s"fixpoint is 2 rounds, executed $executed")
    assert(m100 == m2 && m100 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // Already-a-core graph: zero rounds executed.
    val tri = edges((1L, 2L), (2L, 3L), (1L, 3L))
    val (triCore, triRounds) = Graph.kCorePeelCounted(tri, k = 2, rounds = 5)
    assert(triRounds == 0 && triCore.count() == 3L)
  }
}
