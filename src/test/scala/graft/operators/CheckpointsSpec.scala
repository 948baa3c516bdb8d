package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class CheckpointsSpec extends SparkSpec {
  import ss.implicits._

  private def isCheckpointScan(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case _: LogicalRDD => true
      case _ => false
    }

  test("scan-cheap plans pass through untouched (no second copy in block storage)") {
    val base = Seq((1L, 2L), (2L, 3L)).toDF("u", "v").localCheckpoint(true)
    // project / filter / union over a checkpoint scan: re-derivable at
    // cached-block scan cost — materializeOnce must NOT re-store it
    val sym = base.select(col("u").as("src"), col("v").as("dst"))
      .union(base.select(col("v").as("src"), col("u").as("dst")))
      .where(col("src") =!= -1L)
    val out = Checkpoints.materializeOnce(sym)
    assert(!isCheckpointScan(out), "plan should remain the lazy union")
    assert(out.queryExecution.optimizedPlan eq sym.queryExecution.optimizedPlan,
      "same frame back, not a copy")
    assert(out.count() == 4)
  }

  test("wide plans (join/aggregate) still checkpoint — the lineage cut is real") {
    val base = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val agg = base.groupBy("u").agg(count(lit(1)).as("n"))
    val out = Checkpoints.materializeOnce(agg)
    assert(isCheckpointScan(out), "an aggregate must materialize to a LogicalRDD scan")
    assert(out.count() == 2)
    val joined = base.as("a").join(base.as("b"), "u")
    assert(isCheckpointScan(Checkpoints.materializeOnce(joined)))
    // a parquet scan is NOT scan-cheap either (re-read per round beats
    // nothing; the caller wants blocks): literal data stands in here
    val local = Seq((1L, 2L)).toDF("u", "v")
    assert(!isCheckpointScan(Checkpoints.materializeOnce(local)),
      "a LocalRelation is already free — no checkpoint")
  }

  private val loopFloor = Checkpoints.LoopFloor

  test("withSpreadFloor sets the scoped floor inside the bracket and restores after") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val before = ss.conf.getOption(key)
    val seen = Checkpoints.withSpreadFloor(ss) { ss.conf.get(key) }
    assert(seen == loopFloor, "the low floor must be live inside the bracket")
    assert(ss.conf.getOption(key) == before, "conf must restore on exit")
    // restore must run on failure too (try/finally), and an explicitly-set
    // prior value round-trips
    ss.conf.set(key, "2m")
    intercept[RuntimeException] {
      Checkpoints.withSpreadFloor(ss) { throw new RuntimeException("boom") }
    }
    assert(ss.conf.get(key) == "2m", "prior explicit value must restore after a throw")
    before match { case Some(v) => ss.conf.set(key, v); case None => ss.conf.unset(key) }
  }

  test("brackets reference-count: nested/concurrent exits restore exactly once") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val before = ss.conf.getOption(key)
    ss.conf.set(key, "3m")
    // nested: the inner exit must NOT restore (the outer loop still runs),
    // and must NOT record "16k" as the pre-value either
    Checkpoints.withSpreadFloor(ss) {
      Checkpoints.withSpreadFloor(ss) { assert(ss.conf.get(key) == loopFloor) }
      assert(ss.conf.get(key) == loopFloor,
        "inner exit must not restore while the outer bracket is live")
    }
    assert(ss.conf.get(key) == "3m", "outer exit restores the true pre-value")
    // concurrent same-session queries during the bracket: the documented
    // (pinned) behavior is that they run fine and SEE the low floor — a
    // conservative coalesce floor never changes results
    Checkpoints.withSpreadFloor(ss) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val (n, seen) = Await.result(Future {
        (ss.range(100).groupBy(col("id") % 7).count().count(), ss.conf.get(key))
      }, 60.seconds)
      assert(n == 7 && seen == loopFloor,
        "a concurrent query on the same session runs, under the scoped floor")
    }
    assert(ss.conf.get(key) == "3m")
    before match { case Some(v) => ss.conf.set(key, v); case None => ss.conf.unset(key) }
  }

  test("the iterative operators leave the session floor untouched (scoped, not global)") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val before = ss.conf.getOption(key)
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    DupClusters.connectedComponents(edges).count()
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    Graph.seedDistances(e, seeds, maxDepth = 3).count()
    assert(ss.conf.getOption(key) == before,
      "seedDistances/connectedComponents must not leak the spread floor")
  }

  test("spreadForCpu: spreads few-split batch frames, passes streams through") {
    val p = ss.sparkContext.defaultParallelism
    val small = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    val spread = Checkpoints.spreadForCpu(small)
    // on a low-core runner a 2-row LocalTableScan may already plan >= p
    // partitions and the spread branch (correctly) never fires — assert
    // the branch the PROBE actually chose (round-16 advice: the old
    // assertion encoded the 32-core dev box)
    if (small.queryExecution.toRdd.getNumPartitions < p) {
      assert(spread.rdd.getNumPartitions == p, "few-split input must spread to parallelism")
      assert(isCheckpointScan(spread), "the spread path must cut lineage " +
        "(a bare repartition lets filters push back under the exchange)")
    } else assert(spread eq small, "already-parallel input passes through")
    // already-parallel input passes through untouched
    val wide = small.repartition(p)
    assert(Checkpoints.spreadForCpu(wide) eq wide)
    // a streaming frame must pass through (toRdd throws on streaming plans)
    val stream = ss.readStream.format("rate").load()
    assert(Checkpoints.spreadForCpu(stream) eq stream)
  }

  test("spreadForCpu: a subquery-bearing filter is NOT probed (planning-only guarantee)") {
    // a scalar subquery keeps the Filter-over-leaf SHAPE but executing
    // toRdd would run the subquery's jobs — the guard must skip it
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
      .createOrReplaceTempView("cp_subq_t")
    val q = ss.sql(
      "SELECT id, text FROM cp_subq_t WHERE id > (SELECT min(id) FROM cp_subq_t)")
    assert(q.queryExecution.optimizedPlan.expressions
        .exists(_.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])),
      "precondition: the optimized plan still carries the scalar subquery")
    assert(Checkpoints.spreadForCpu(q) eq q, "subquery-bearing plan must pass through unprobed")
    assert(q.count() == 2)
  }

  test("broadcastWithin hints at the limit and not one row above it (executed plan)") {
    // with the planner's own size-based broadcast off, a BroadcastHashJoin
    // in the executed plan can only come from the gate's hint
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = ss.conf.getOption(key)
    ss.conf.set(key, "-1")
    try {
      val small = Seq(1L, 2L).toDF("k")
      val big = ss.range(1000).select(col("id").as("k"), (col("id") % 7).as("v"))
      def executed(limit: Long): String = {
        val j = big.join(Checkpoints.broadcastWithin(small, small.count(), limit), "k")
        assert(j.collect().length == 2)
        j.queryExecution.executedPlan.toString
      }
      assert(executed(2L).contains("BroadcastHashJoin"), "2 rows at a limit of 2 broadcast")
      val above = executed(1L)
      assert(!above.contains("BroadcastHashJoin") && above.contains("SortMergeJoin"), above)
    } finally prev.fold(ss.conf.unset(key))(ss.conf.set(key, _))
  }

  test("BFS expansion join builds on the FRONTIER side, never the edges (plan pin)") {
    // the round-14 inversion: stale checkpoint stats made the planner
    // broadcast the edge set; the explicit hint pins the build side.
    // Pin the REAL round body (the loop's checkpoints hide inner joins
    // from the final plan).
    val und = ss.range(2000).select((col("id") % 500).as("u"), (col("id") % 700 + 500).as("v"))
      .localCheckpoint(true)
    val e = Graph.symmetrize(und)
    val dist = und.select(col("u").as("node"), lit(0L).as("dist"))
      .where(col("node") % 100 === 0).distinct().localCheckpoint(true)
    val round = Graph.expandOnce(e, Checkpoints.broadcastWithin(dist, dist.count()), dist, r = 1)
    round.count()
    val plan = round.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // no broadcast build may carry both src and dst (an edge-scale frame):
    // walk each BroadcastExchange's SUBTREE (deeper-indented lines only —
    // a fixed window would catch the streamed side's first line too)
    def indent(l: String): Int = l.segmentLength(c => !c.isLetter)
    val lines = plan.linesIterator.toVector
    val bidx = lines.zipWithIndex.filter(_._1.contains("BroadcastExchange")).map(_._2)
    assert(bidx.nonEmpty, "expected broadcast builds in the round plan")
    bidx.foreach { i =>
      val subtree = (lines(i) +: lines.drop(i + 1)
        .takeWhile(l => indent(l) > indent(lines(i)))).mkString("\n")
      assert(!(subtree.contains("src#") && subtree.contains("dst#")),
        s"edge-scale frame on a broadcast build:\n$subtree")
    }
  }
}
