package graft.operators

import graft.SparkSpec

class DupClustersSpec extends SparkSpec {
  import ss.implicits._

  test("connectedComponents labels every component with its min id") {
    // chain 1-2-3-4, separate pair 10-11, triangle 20-21-22
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val got = DupClusters.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("a long chain converges (label must travel the diameter)") {
    val n = 24
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val got = DupClusters.connectedComponents(edges).as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), got.sortBy(_._1).mkString(","))
  }

  test("pointer jumping converges a chain in O(log diameter) rounds") {
    // Chain of 33 nodes, diameter 32: plain hash-to-min needs ~diameter
    // rounds; one-hop + pointer-jump roughly doubles the label horizon per
    // round, so this must settle (including the final no-change round) in
    // well under half the diameter.
    val n = 33
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val (labels, rounds) = DupClusters.connectedComponentsWithRounds(edges)
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 1L))
    assert(rounds <= 8, s"expected O(log n) rounds on a 33-chain, took $rounds")
  }

  test("shuffle-join path (labels past the row limit) labels identically") {
    // the row-guard degradation path must be CORRECT, not just non-OOM
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 20L))
      .toDF("id_a", "id_b")
    val bcast = DupClusters.connectedComponents(edges)
      .as[(Long, Long)].collect().toSet
    val shuffle = DupClusters.connectedComponentsWithRounds(edges, rowLimit = 0L)._1
      .as[(Long, Long)].collect().toSet
    assert(bcast == shuffle)
    assert(shuffle == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)))
  }

  test("the loop's jobs name the operator after the caller's description") {
    val sc = ss.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val metrics = new graft.metrics.MetricsListener(sc)
    sc.setJobDescription("dedup b1")
    try {
      val from = metrics.mark()
      DupClusters.connectedComponents(edges)
      val jobs = metrics.window(from, metrics.mark()).jobs
      assert(jobs.nonEmpty && jobs.forall(_.desc == "dedup b1/DupClusters"), jobs.map(_.desc).distinct)
      assert(sc.getLocalProperty("spark.job.description") == "dedup b1")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(metrics)
    }
  }

  test("empty edge set yields an empty labeling without iteration blowup") {
    val edges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (labels, rounds) = DupClusters.connectedComponentsWithRounds(edges)
    assert(labels.count() == 0L)
    assert(rounds <= 1)
  }
}
