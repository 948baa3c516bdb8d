package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import ss.implicits._

  private val df = Seq(
    (1, Some("Ana"), 10.0), (1, None, 99.0), (2, None, 5.0), (2, None, 7.0)
  ).toDF("key", "name", "v")

  test("preferNonNull keeps the named row even when lower-valued") {
    val kept = Dedup.preferNonNull(df, col("key"), col("name"), Seq(col("v").desc))
      .orderBy("key").collect().map(r => (r.getInt(0), Option(r.getString(1)), r.getDouble(2)))
    assert(kept.toSeq == Seq((1, Some("Ana"), 10.0), (2, None, 7.0)))
  }

  test("mostCompleteRowPerKey keeps the row with most non-nulls") {
    val d2 = Seq(
      (1, Some("a"), Some(1.0)), (1, Some("b"), None), (1, None, None)
    ).toDF("key", "s", "d")
    val kept = Dedup.mostCompleteRowPerKey(d2, Seq(col("key")),
      Seq(col("s"), col("d")), Seq(col("s").asc)).collect()
    assert(kept.length == 1 && kept.head.getString(1) == "a")
  }

  test("exactByHash groups identical content") {
    val docs = Seq((1, "same text"), (2, "same text"), (3, "other")).toDF("id", "text")
    val out = Dedup.exactByHash(docs, col("text"), col("id"))
      .orderBy("keep_id").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 2L), (3, 1L)))
  }
}

class BlocklistSpec extends SparkSpec {
  import ss.implicits._

  test("removeByStatusThreshold drops keys at/over the critical-count threshold") {
    val main = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "x")
    val log = Seq(
      (1, "BAD"), (1, "bad "), (1, "BAD"), // 3 critical → blocked
      (2, "BAD"), (2, "ok"),               // 1 critical → kept
      (3, "ok")).toDF("cid", "status")
    val kept = Blocklist.removeByStatusThreshold(main, col("id"), log, col("cid"), col("status"),
      Seq("bad"), 3).select("id").as[Int].collect().sorted
    assert(kept.toSeq == Seq(2, 3))
  }

  test("removeByStatusThreshold builds its frame without running a Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val customer = graft.sources.Tables.customer(ss, smallSfDir)
    val events = graft.sources.Tables.events(ss, smallSfDir)
    org.apache.spark.graftbench.BusDrain.drain(ss.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ss.sparkContext.addSparkListener(listener)
    try {
      Blocklist.removeByStatusThreshold(customer, col("c_custkey"), events, col("user_id"),
        col("event_type"), Seq("error"), 3)
      org.apache.spark.graftbench.BusDrain.drain(ss.sparkContext)
      assert(jobs.get == 0, s"${jobs.get} job(s) ran before the first action")
    } finally ss.sparkContext.removeSparkListener(listener)
  }

  test("without a hint the planner still broadcasts the blocked-key side (q04, test scale)") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val q04 = graft.queries.RQueries.q04(ss, smallSfDir)
    q04.collect()
    val plan = q04.queryExecution.executedPlan
    // the helper descends into the final adaptive plan and its query stages
    val found = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
    }
    assert(found.size == 1, s"expected one broadcast left-anti join, found ${found.size}:\n$plan")
  }

  test("filterWithRejects splits and annotates the rejected side") {
    val df = Seq((1, "Desligado"), (2, "ativo")).toDF("id", "bloq")
    val (kept, rejected) = Blocklist.filterWithRejects(df, col("bloq"), Set("desligado"))
    assert(kept.select("id").as[Int].collect().toSeq == Seq(2))
    val rej = rejected.collect().head
    assert(rej.getInt(0) == 1 && rej.getString(2) == "Desligado")
  }
}

class AggregatesTopKSpec extends SparkSpec {
  import ss.implicits._

  private val orders = Seq(
    (1, 10.0, "2024-01-01"), (1, 30.0, "2024-02-01"), (1, 20.0, "2024-03-01"),
    (2, 5.0, "2024-01-15")
  ).toDF("cust", "v", "dt")

  test("withPerKeyTotals keeps every row and adds totals") {
    val out = Aggregates.withPerKeyTotals(orders, col("cust"), col("v"))
    assert(out.count() == 4)
    val r1 = out.filter(col("cust") === 1).select("valor_divida", "qtd_faturas").distinct().collect().head
    assert(r1.getDouble(0) == 60.0 && r1.getLong(1) == 3L)
  }

  test("distinctJoined emits sorted joined distinct values") {
    val df = Seq((1, "uc2"), (1, "uc1"), (1, "uc2")).toDF("cust", "uc")
    val r = Aggregates.distinctJoined(df, col("cust"), col("uc")).collect().head
    assert(r.getString(1) == "uc1, uc2" && r.getLong(2) == 2L)
  }

  test("topKWide pivots the first k rows per key into wide columns") {
    val out = TopK.topKWide(orders, col("cust"), Seq(col("v").desc), 2,
      Seq("v" -> col("v")), keyName = "cust")
    val r1 = out.filter(col("cust") === 1).collect().head
    assert(r1.getDouble(1) == 30.0 && r1.getDouble(2) == 20.0)
    val r2 = out.filter(col("cust") === 2).collect().head
    assert(r2.getDouble(1) == 5.0 && r2.isNullAt(2))
  }
}

class PrioritizeSegmentationSpec extends SparkSpec {
  import ss.implicits._

  test("priorityLevel picks the first matching status across columns") {
    val df = Seq(("1-URGENT", "x"), ("x", "2-high"), ("x", "y")).toDF("a", "b")
    val out = df.select(Prioritize.priorityLevel(Seq(col("a"), col("b")),
      Seq("1-URGENT", "2-HIGH")).as("p")).as[Int].collect()
    assert(out.toSeq == Seq(0, 1, 2))
  }

  test("splitByThreshold cutoff=0 duplicates to both channels") {
    val df = Seq(1.0, 500.0).toDF("v")
    val (h, r) = Segmentation.splitByThreshold(df, col("v"), 0.0)
    assert(h.count() == 2 && r.count() == 2)
    val (h2, r2) = Segmentation.splitByThreshold(df, col("v"), 100.0)
    assert(h2.count() == 1 && r2.count() == 1)
  }

  test("waves: capacity cuts the global priority order into bounded waves") {
    val df = (1L to 23L).map(i => (i, 1000L - i)).toDF("id", "score")
    val out = Waves.assign(df, Seq(col("score").desc, col("id").asc), capacity = 10L)
      .select("id", "ordinal", "wave").as[(Long, Long, Long)].collect().sortBy(_._1)
    // score desc == id asc here, so ordinal == id.
    assert(out.forall { case (id, ord, _) => ord == id })
    val sizes = out.groupBy(_._3).view.mapValues(_.size).toMap
    assert(sizes == Map(1L -> 10, 2L -> 10, 3L -> 3), s"got $sizes")
    assert(out.forall { case (_, ord, w) => w == (ord - 1) / 10 + 1 })
  }

  test("blocklist thresholdSweep: cumulative counts from one log pass") {
    // u1: 4 criticals, u2: 2, u3: 1, u4: only non-critical noise.
    val log = (Seq.fill(4)((1L, "ERROR")) ++ Seq.fill(2)((2L, " error ")) ++
      Seq((3L, "error"), (4L, "click"), (1L, "click")))
      .toDF("user_id", "event_type")
    val got = Blocklist.thresholdSweep(log, col("user_id"), col("event_type"),
      Seq("error"), maxThreshold = 5)
      .orderBy("threshold").as[(Long, Long)].collect().toSeq
    // >=1: u1,u2,u3; >=2: u1,u2; >=3,>=4: u1; >=5: none.
    assert(got == Seq((1L, 3L), (2L, 2L), (3L, 1L), (4L, 1L), (5L, 0L)), s"got $got")
  }
}
