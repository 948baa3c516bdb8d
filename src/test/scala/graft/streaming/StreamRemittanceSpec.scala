package graft.streaming

import graft.SparkSpec
import graft.operators.Remittance
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamRemittanceSpec extends SparkSpec {
  import ss.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_rem_").toString

  private val invoices = Seq(
    (1L, 101L, "2024-01-01", 10.00),
    (1L, 102L, "2024-02-01", 20.00),
    (2L, 201L, "2024-01-01", 5.00))
    .toDF("cust", "inv", "d0", "amt")
    .select(col("cust"), col("inv"), col("d0").cast("date").as("d"), col("amt"))

  private def ledger = Remittance.invoiceIntervals(
    invoices, col("cust"), col("inv"), col("d"), col("amt"))

  // payments arrive in event-time order across two batches
  private val batch1 = Seq((1L, 901L, "2024-03-01 00:00:00", 15.00))
  private val batch2 = Seq((1L, 902L, "2024-03-02 00:00:00", 10.00),
                           (2L, 903L, "2024-03-02 00:00:00", 7.00))

  private def payDf(rows: Seq[(Long, Long, String, Double)]) =
    rows.toDF("cust", "pid", "t0", "amt")
      .select(col("cust"), col("pid"), col("t0").cast("timestamp").as("ts"), col("amt"))

  test("streamed allocations equal the batch operator; state is one long per debtor") {
    val base = tmp()
    StreamRemittance.applyBatch(payDf(batch1), col("cust"), col("pid"),
      col("ts"), col("amt"), ledger, base, batchId = 0L)
    // replay of batch 0 must be a no-op (effective-once)
    StreamRemittance.applyBatch(payDf(batch1), col("cust"), col("pid"),
      col("ts"), col("amt"), ledger, base, batchId = 0L)
    StreamRemittance.applyBatch(payDf(batch2), col("cust"), col("pid"),
      col("ts"), col("amt"), ledger, base, batchId = 1L)

    val streamed = StreamRemittance.readAllocations(ss, base).get
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = Remittance.allocateFifo(
        invoices, col("cust"), col("inv"), col("d"), col("amt"),
        payDf(batch1 ++ batch2), col("cust"), col("pid"), col("ts"), col("amt"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // hand-check: 901 covers 101 fully (1000) + 500 of 102; 902 continues
    // 102 from where the axis left off (1000 more); 903 covers 201 (500).
    assert(streamed == Set((1L, 101L, 901L, 1000L), (1L, 102L, 901L, 500L),
      (1L, 102L, 902L, 1000L), (2L, 201L, 903L, 500L)))

    val totals = StreamRemittance.readLatestTotals(ss, base).get
      .as[(Long, Long)].collect().toMap
    assert(totals == Map(1L -> 2500L, 2L -> 700L),
      "state is the cumulative received total (axis offset) per debtor, nothing else")
  }

  test("resuming a store written before the received_cents rename migrates on read") {
    val base = tmp()
    // simulate a pre-rename committed batch: totals column named paid_cents
    // (debtor 1 already has 15.00 applied), empty allocation log
    VersionedStore.commitBatch(ss, base, 0L) { _ =>
      Seq("totals" -> Seq((1L, 1500L)).toDF("key", "paid_cents"),
        "alloc" -> Seq.empty[(Long, Long, Long, Long)].toDF("key", "inv_id", "pay_id", "alloc_cents"))
    }
    val totals0 = StreamRemittance.readLatestTotals(ss, base).get
    assert(totals0.columns.toSeq == Seq("key", "received_cents"),
      "old-name store must read through the rename, not wedge the stream")
    // the next batch resumes the money axis at the migrated offset: 10.00
    // lands on [1500, 2500) — inside invoice 102's [1000, 3000) stretch
    StreamRemittance.applyBatch(payDf(Seq((1L, 902L, "2024-03-02 00:00:00", 10.00))),
      col("cust"), col("pid"), col("ts"), col("amt"), ledger, base, batchId = 1L)
    val streamed = StreamRemittance.readAllocations(ss, base).get
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == Set((1L, 102L, 902L, 1000L)))
    val totals = StreamRemittance.readLatestTotals(ss, base).get
      .as[(Long, Long)].collect().toMap
    assert(totals == Map(1L -> 2500L))
  }

  test("a refund row dead-letters instead of poisoning the batch (review r13)") {
    val base = tmp()
    // one refund mixed into real payments: the batch must COMMIT (a raise
    // would replay forever — every retry sees the same poison row), the
    // positive rows must allocate, and the refund must land in rejects
    val mixed = payDf(Seq(
      (1L, 901L, "2024-03-01 00:00:00", 15.00),
      (1L, 902L, "2024-03-01 00:01:00", -4.00), // stream can't net: no history
      (2L, 903L, "2024-03-01 00:02:00", 5.00)))
    StreamRemittance.applyBatch(mixed, col("cust"), col("pid"),
      col("ts"), col("amt"), ledger, base, batchId = 0L)
    val streamed = StreamRemittance.readAllocations(ss, base).get
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == Set((1L, 101L, 901L, 1000L), (1L, 102L, 901L, 500L),
      (2L, 201L, 903L, 500L)), "positive rows allocate as if the refund never arrived")
    val rejects = StreamRemittance.readRejects(ss, base).get
      .as[(Long, Long, java.sql.Timestamp, Long)].collect().toList
    assert(rejects.map(r => (r._1, r._2, r._4)) == List((1L, 902L, -400L)),
      "the refund is preserved for upstream netting, not dropped")
    // a later all-positive batch keeps flowing (nothing wedged)
    StreamRemittance.applyBatch(payDf(Seq((2L, 904L, "2024-03-02 00:00:00", 1.00))),
      col("cust"), col("pid"), col("ts"), col("amt"), ledger, base, batchId = 1L)
    assert(StreamRemittance.readRejects(ss, base).get.count() == 1)
  }

  test("readRejects skips versions committed before the dead-letter existed") {
    val base = tmp()
    // no rejects dir — a pre-dead-letter version
    VersionedStore.commitBatch(ss, base, 0L) { _ =>
      Seq("totals" -> Seq((1L, 1500L)).toDF("key", "received_cents"),
        "alloc" -> Seq.empty[(Long, Long, Long, Long)].toDF("key", "inv_id", "pay_id", "alloc_cents"))
    }
    assert(StreamRemittance.readRejects(ss, base).isEmpty,
      "old store: no rejects anywhere → None, not a missing-path crash")
    StreamRemittance.applyBatch(payDf(Seq((1L, 902L, "2024-03-02 00:00:00", 10.00))),
      col("cust"), col("pid"), col("ts"), col("amt"), ledger, base, batchId = 1L)
    assert(StreamRemittance.readRejects(ss, base).get.count() == 0,
      "new version contributes an (empty) rejects dir; old version still skipped")
  }

  test("the wired stream produces the same ledger via foreachBatch") {
    implicit val sq = ss.sqlContext
    val base = tmp()
    val mem = MemoryStream[(Long, Long, String, Double)]
    val q = StreamRemittance.sink(
      mem.toDF().toDF("cust", "pid", "t0", "amt")
        .select(col("cust"), col("pid"), col("t0").cast("timestamp").as("ts"), col("amt")),
      col("cust"), col("pid"), col("ts"), col("amt"), ledger, base, tmp())
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val streamed = StreamRemittance.readAllocations(ss, base).get
      .agg(sum("alloc_cents")).as[Long].head()
    assert(streamed == 3000L, "all 30.00 of payments allocated")
  }
}
