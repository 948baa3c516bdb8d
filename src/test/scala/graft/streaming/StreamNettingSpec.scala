package graft.streaming

import graft.SparkSpec
import graft.operators.Remittance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StreamNettingSpec extends SparkSpec {
  import ss.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_net_").toString

  private def payDf(rows: Seq[(Long, Long, String, Double)]) =
    rows.toDF("cust", "pid", "t0", "amt")
      .select(col("cust"), col("pid"), col("t0").cast("timestamp").as("ts"), col("amt"))

  private def apply1(base: String, rows: Seq[(Long, Long, String, Double)],
                     horizonSec: Long, batchId: Long): DataFrame =
    StreamNetting.applyBatch(payDf(rows), col("cust"), col("pid"), col("ts"),
      col("amt"), horizonSec, base, batchId)

  private val DAY = 86400L

  test("in-horizon refund nets exactly as batch netAdjustments, row for row") {
    val base = tmp()
    // p1 100 @1-01, p2 50 @1-02, refund -120 @1-03 — all inside the 10-day
    // horizon when the refund lands, so the claw nets against the buffer
    apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", 100.00),
      (1L, 2L, "2024-01-02 00:00:00", 50.00)), 10 * DAY, 0L)
    apply1(base, Seq((1L, 3L, "2024-01-03 00:00:00", -120.00)), 10 * DAY, 1L)
    assert(StreamNetting.readReleased(ss, base).get.count() == 0,
      "nothing crosses the horizon yet")
    // advancing rows push the watermark past every earlier row
    apply1(base, Seq((1L, 4L, "2024-01-20 00:00:00", 10.00)), 10 * DAY, 2L)
    apply1(base, Seq((1L, 5L, "2024-02-20 00:00:00", 0.00)), 10 * DAY, 3L)

    val released = StreamNetting.readReleased(ss, base).get
      .select("key", "id", "net_cents").as[(Long, Long, Long)].collect().toSet
    val batchNet = Remittance.netAdjustments(
        payDf(Seq((1L, 1L, "2024-01-01 00:00:00", 100.00),
          (1L, 2L, "2024-01-02 00:00:00", 50.00),
          (1L, 3L, "2024-01-03 00:00:00", -120.00),
          (1L, 4L, "2024-01-20 00:00:00", 10.00))),
        col("cust"), col("pid"), col("ts"), col("amt"))
      .select("key", "id", "net_cents").as[(Long, Long, Long)].collect().toSet
    assert(released == batchNet, s"stream $released vs batch $batchNet")
    // hand-check the envelope: the refund claws p2 wholly and p1 down to 30
    assert(released == Set((1L, 1L, 3000L), (1L, 2L, 0L), (1L, 3L, 0L), (1L, 4L, 1000L)))
    assert(StreamNetting.readDeadLetters(ss, base).get.count() == 0,
      "fully-absorbed claw dead-letters nothing")
  }

  test("released column names are key/id/ts (the applyBatch feed contract)") {
    val base = tmp()
    val rel = apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", 5.00)), DAY, 0L)
    assert(rel.columns.toSeq == Seq("key", "id", "ts", "net_cents", "net_amount"))
  }

  test("past-horizon refund dead-letters the unabsorbed remainder") {
    val base = tmp()
    // p1 releases at full value before the refund arrives
    apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", 100.00)), DAY, 0L)
    apply1(base, Seq((1L, 2L, "2024-01-05 00:00:00", 0.00)), DAY, 1L)
    val rel1 = StreamNetting.readReleased(ss, base).get
      .select("id", "net_cents").as[(Long, Long)].collect().toMap
    assert(rel1 == Map(1L -> 10000L), "p1 released at full value")
    // refund lands after p1's release: nothing pending can absorb it
    apply1(base, Seq((1L, 3L, "2024-01-05 01:00:00", -30.00)), DAY, 2L)
    apply1(base, Seq((1L, 4L, "2024-01-10 00:00:00", 0.00)), DAY, 3L)
    val dl = StreamNetting.readDeadLetters(ss, base).get
      .select("key", "id", "cents").as[(Long, Long, Long)].collect().toSeq
    assert(dl == Seq((1L, 3L, 3000L)),
      "the full claw dead-letters, attributed to the refund row")
    val rel2 = StreamNetting.readReleased(ss, base).get
      .select("id", "net_cents").as[(Long, Long)].collect().toMap
    assert(rel2 == Map(1L -> 10000L, 2L -> 0L, 3L -> 0L),
      "released cash is never clawed back")
  }

  test("overshooting refund is absorbed by SUBSEQUENT in-horizon postings (batch rule)") {
    val base = tmp()
    apply1(base, Seq(
      (1L, 1L, "2024-01-01 00:00:00", 100.00),
      (1L, 2L, "2024-01-02 00:00:00", -150.00),
      (1L, 3L, "2024-01-03 00:00:00", 30.00),
      (1L, 4L, "2024-01-04 00:00:00", 80.00)), 10 * DAY, 0L)
    apply1(base, Seq((1L, 9L, "2024-01-20 00:00:00", 0.00)), 10 * DAY, 1L)
    val rel = StreamNetting.readReleased(ss, base).get
      .select("id", "net_cents").as[(Long, Long)].collect().toMap
    assert(rel == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 6000L),
      "suffix-min envelope: the overshoot suppresses later postings")
    assert(StreamNetting.readDeadLetters(ss, base).get.count() == 0)
  }

  test("partially-absorbable past-horizon overshoot dead-letters only the remainder") {
    val base = tmp()
    // p1 releases (past horizon), then refund -150 arrives with only a
    // +30 posting pending: released p1 is untouchable, the pending +30
    // absorbs 30 of the claw, remainder 120 dead-letters at refund release
    apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", 100.00)), DAY, 0L)
    apply1(base, Seq((1L, 2L, "2024-01-05 00:00:00", 0.00)), DAY, 1L) // release p1
    apply1(base, Seq((1L, 3L, "2024-01-05 02:00:00", -150.00),
      (1L, 4L, "2024-01-05 03:00:00", 30.00)), DAY, 2L)
    apply1(base, Seq((1L, 9L, "2024-01-20 00:00:00", 0.00)), DAY, 3L)
    val dl = StreamNetting.readDeadLetters(ss, base).get
      .select("id", "cents").as[(Long, Long)].collect().toSeq
    assert(dl == Seq((3L, 12000L)), s"got $dl")
    val rel = StreamNetting.readReleased(ss, base).get
      .select("id", "net_cents").as[(Long, Long)].collect().toMap
    assert(rel == Map(1L -> 10000L, 2L -> 0L, 3L -> 0L, 4L -> 0L),
      "the pending posting's 30 went to the claw")
  }

  test("absorber arriving AFTER the refund's release still nets (deferred write-off)") {
    val base = tmp()
    // refund releases with nothing pending; its in-window absorber (+100
    // @Jan-05, inside (refund.ts - h, refund.ts + h]) arrives two batches
    // later. The old immediate write-off dead-lettered 100 AND released
    // the posting at full value; batch nets the posting to 0.
    apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", -100.00)), DAY, 0L)
    apply1(base, Seq((1L, 2L, "2024-01-01 12:00:00", 0.00)), DAY, 1L) // releases the refund
    assert(StreamNetting.readDeadLetters(ss, base).get.count() == 0,
      "deficit must NOT dead-letter while an absorber can still arrive on time")
    apply1(base, Seq((1L, 3L, "2024-01-01 18:00:00", 100.00)), DAY, 2L)
    apply1(base, Seq((1L, 9L, "2024-01-20 00:00:00", 0.00)), DAY, 3L) // release everything
    val rel = StreamNetting.readReleased(ss, base).get
      .select("id", "net_cents").as[(Long, Long)].collect().toMap
    assert(rel == Map(1L -> 0L, 2L -> 0L, 3L -> 0L),
      s"the late-arriving absorber is clawed exactly as batch: $rel")
    assert(StreamNetting.readDeadLetters(ss, base).get.count() == 0,
      "fully absorbed in the window — nothing to write off")
  }

  test("unabsorbed deficit dead-letters once the absorption window closes") {
    val base = tmp()
    apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", -100.00)), DAY, 0L)
    apply1(base, Seq((1L, 2L, "2024-01-01 12:00:00", 0.00)), DAY, 1L) // releases the refund
    assert(StreamNetting.readDeadLetters(ss, base).get.count() == 0)
    // wm passes refund.ts + horizon (Jan-02): no absorber can now arrive
    // on time; the remainder writes off, attributed to the refund
    apply1(base, Seq((1L, 9L, "2024-01-10 00:00:00", 0.00)), DAY, 2L)
    val dl = StreamNetting.readDeadLetters(ss, base).get
      .select("id", "cents").as[(Long, Long)].collect().toSeq
    assert(dl == Seq((1L, 10000L)), s"got $dl")
    // and the axis is squared up: a later posting releases at full value
    apply1(base, Seq((1L, 4L, "2024-01-15 00:00:00", 40.00)), DAY, 3L)
    apply1(base, Seq((1L, 5L, "2024-02-20 00:00:00", 0.00)), DAY, 4L)
    val rel = StreamNetting.readReleased(ss, base).get
      .select("id", "net_cents").as[(Long, Long)].collect().toMap
    assert(rel(4L) == 4000L, s"written-off deficit must not claw later cash: $rel")
  }

  test("recurring fully-absorbed refund traffic does not re-arm an old deficit's expiry") {
    val base = tmp()
    // old deficit: refund -100 releases with nothing to absorb it
    apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", -100.00)), DAY, 0L)
    apply1(base, Seq((1L, 9L, "2024-01-02 12:00:00", 0.00)), DAY, 1L) // releases it
    assert(StreamNetting.readDeadLetters(ss, base).get.count() == 0)
    // a +50/-50 pair (the refund fully absorbed in-batch: zero net
    // contribution to the standing deficit) buffers, then releases in the
    // batch that ALSO closes the old refund's absorption window. The
    // round-16 advice scenario: attribution advancing to this pair's
    // refund would push expiry out one horizon per pair — recurring pairs
    // keep the old remainder alive forever and any eventual write-off
    // names the wrong refund.
    apply1(base, Seq((1L, 3L, "2024-01-02 18:00:00", 50.00),
      (1L, 4L, "2024-01-02 19:00:00", -50.00)), DAY, 2L)
    apply1(base, Seq((1L, 8L, "2024-01-04 00:00:00", 0.00)), DAY, 3L)
    val dl = StreamNetting.readDeadLetters(ss, base).get
      .select("key", "id", "cents").as[(Long, Long, Long)].collect().toSeq
    assert(dl == Seq((1L, 1L, 10000L)),
      s"old remainder writes off on ITS OWN window, named after refund 1: $dl")
    // the pair itself netted to zero against the deficit's floor
    val rel = StreamNetting.readReleased(ss, base).get
      .select("id", "net_cents").as[(Long, Long)].collect().toMap
    assert(rel(3L) == 0L && rel(4L) == 0L)
    // axis squared up: later cash releases at full value
    apply1(base, Seq((1L, 5L, "2024-01-10 00:00:00", 40.00)), DAY, 4L)
    apply1(base, Seq((1L, 6L, "2024-02-20 00:00:00", 0.00)), DAY, 5L)
    val rel2 = StreamNetting.readReleased(ss, base).get
      .select("id", "net_cents").as[(Long, Long)].collect().toMap
    assert(rel2(5L) == 4000L, s"written-off deficit must not claw later cash: $rel2")
  }

  test("a NEW overshooting refund re-arms the clock even while an old deficit stands") {
    val base = tmp()
    // old deficit: R1's -100 released unabsorbed
    apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", -100.00)), DAY, 0L)
    apply1(base, Seq((1L, 9L, "2024-01-02 12:00:00", 0.00)), DAY, 1L)
    // R2 (-70) co-releases WITH +40: the clean-axis counterfactual says 40
    // of R2's claw is absorbed in-batch and 30 is live — the expiry clock
    // must advance to R2 (round-16 review: writing the standing deficit
    // off on R1's older clock would early-kill R2's live claw and release
    // its on-time absorber at full value)
    apply1(base, Seq((1L, 3L, "2024-01-02 18:00:00", 40.00),
      (1L, 4L, "2024-01-02 19:00:00", -70.00)), DAY, 2L)
    apply1(base, Seq((1L, 8L, "2024-01-04 00:00:00", 0.00)), DAY, 3L)
    // R1's own window (Jan-02) has closed, but R2's is open: NOTHING may
    // write off yet (single-slot clock errs toward the latest live claw)
    assert(StreamNetting.readDeadLetters(ss, base).get.count() == 0,
      "no write-off while the newest live claw's absorber can still arrive")
    // R2's in-window absorber arrives and must be netted, not released whole
    apply1(base, Seq((1L, 5L, "2024-01-03 12:00:00", 70.00)), DAY, 4L)
    apply1(base, Seq((1L, 7L, "2024-01-10 00:00:00", 0.00)), DAY, 5L)
    val rel = StreamNetting.readReleased(ss, base).get
      .select("id", "net_cents").as[(Long, Long)].collect().toMap
    assert(rel(5L) == 0L, s"the on-time absorber is netted into the deficit: $rel")
    val dl = StreamNetting.readDeadLetters(ss, base).get
      .select("id", "cents").as[(Long, Long)].collect().toSeq
    assert(dl == Seq((4L, 6000L)),
      s"the unabsorbable remainder (100+70-40-70) writes off on R2's clock: $dl")
  }

  test("one-slot compromise (pinned): a new refund hidden behind old-deficit absorption " +
    "writes off early on the OLD clock, and its absorber then releases whole") {
    val base = tmp()
    // Old deficit: R1's -100 released unabsorbed (dref = R1, ts Jan-01).
    apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", -100.00)), DAY, 0L)
    apply1(base, Seq((1L, 9L, "2024-01-02 12:00:00", 0.00)), DAY, 1L)
    // +100 (id 3) and R2 = -100 (id 4) co-release in one batch: the +100
    // is floor-suppressed into R1's standing deficit and R2's claw is
    // live — but rel_raw == 0 is the IDENTICAL aggregate signature to the
    // fully-absorbed +x/−x pair (the recurring-traffic test above), so
    // the single attribution slot cannot advance to R2. Documented
    // stream ≠ batch divergence, not a bug to "fix" within one slot:
    // distinguishing the two shapes needs per-refund deficit remainders.
    apply1(base, Seq((1L, 3L, "2024-01-02 18:00:00", 100.00),
      (1L, 4L, "2024-01-02 19:00:00", -100.00)), DAY, 2L)
    apply1(base, Seq((1L, 8L, "2024-01-04 00:00:00", 0.00)), DAY, 3L)
    // R1's window (Jan-02) has closed: the standing 100 writes off on
    // R1's clock even though R2's absorber window is still open (the
    // early-write-off half of the compromise).
    val dl = StreamNetting.readDeadLetters(ss, base).get
      .select("id", "cents").as[(Long, Long)].collect().toSeq
    assert(dl == Seq((1L, 10000L)), s"early write-off lands on R1's clock: $dl")
    // R2's on-time absorber then releases at FULL value (batch would net
    // it to zero against R2's claw) — the divergence this pin documents.
    apply1(base, Seq((1L, 5L, "2024-01-03 12:00:00", 100.00)), DAY, 4L)
    apply1(base, Seq((1L, 7L, "2024-01-10 00:00:00", 0.00)), DAY, 5L)
    val rel = StreamNetting.readReleased(ss, base).get
      .select("id", "net_cents").as[(Long, Long)].collect().toMap
    assert(rel(5L) == 10000L,
      s"documented divergence: the hidden claw's absorber releases whole: $rel")
    assert(StreamNetting.readDeadLetters(ss, base).get
      .agg(sum("cents")).as[Long].collect().head == 10000L,
      "and R2's remainder never dead-letters — the axis was squared up early")
  }

  test("late row (behind the watermark on arrival) releases immediately, best-effort") {
    val base = tmp()
    apply1(base, Seq((1L, 1L, "2024-01-05 00:00:00", 100.00)), DAY, 0L)
    val rel = apply1(base, Seq((1L, 2L, "2024-01-01 00:00:00", 20.00)), DAY, 1L)
    assert(rel.select("id", "net_cents").as[(Long, Long)].collect().toSeq
      == Seq((2L, 2000L)))
  }

  test("a batch of only null-ts rows, or of none, after a stored max keeps that watermark") {
    val base = tmp()
    apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", 10.00),
      (1L, 2L, "2024-01-10 00:00:00", 5.00)), DAY, 0L)
    def storedMax = VersionedStore.readLatest(ss, base, "meta").get.as[Long].collect().toSeq
    val max0 = storedMax
    assert(max0 == Seq(java.sql.Timestamp.valueOf("2024-01-10 00:00:00").getTime))
    val nullTs = Seq((1L, 3L, null.asInstanceOf[String], 7.00))
    assert(apply1(base, nullTs, DAY, 1L).count() == 0)
    assert(storedMax == max0, "an all-null-ts batch keeps the stored max")
    assert(apply1(base, Nil, DAY, 2L).count() == 0)
    assert(storedMax == max0, "an empty batch keeps the stored max")
    // 01-05 is behind the kept watermark (01-09): it releases on arrival
    val rel = apply1(base, Seq((1L, 4L, "2024-01-05 00:00:00", 1.00)), DAY, 3L)
    assert(rel.select("id", "net_cents").as[(Long, Long)].collect().toSeq == Seq((4L, 100L)))
    assert(storedMax == max0)
  }

  test("null-ts row in the same batch as a releasing refund is inert (prefix property)") {
    // Round-17 advice: the __grew telescope (rel_raw < 0) needs released
    // rows to form a contiguous prefix of the wAsc order. Under Spark's
    // default nulls-first asc, a nonzero-amount null-ts row would sit
    // AHEAD of that prefix; ts orders nulls LAST so the property holds by
    // construction. Pin: a garbage null-ts row rides along without
    // perturbing released values, never releases, never dead-letters.
    def driveRows(base: String, withNull: Boolean): Unit = {
      apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", 100.00)), DAY, 0L)
      val b1 = Seq((1L, 2L, "2024-01-02 00:00:00", -30.00), // releasing refund
        (1L, 4L, "2024-01-10 00:00:00", 0.00)) // advances the watermark
      val b1null = if (withNull) b1 :+ ((1L, 3L, null.asInstanceOf[String], 20.00)) else b1
      val df = b1null.toDF("cust", "pid", "t0", "amt")
        .select(col("cust"), col("pid"), col("t0").cast("timestamp").as("ts"), col("amt"))
      StreamNetting.applyBatch(df, col("cust"), col("pid"), col("ts"),
        col("amt"), DAY, base, 1L): Unit
    }
    val withNull = tmp(); val control = tmp()
    driveRows(withNull, withNull = true)
    driveRows(control, withNull = false)
    def rel(base: String) = StreamNetting.readReleased(ss, base).get
      .select("id", "net_cents").as[(Long, Long)].collect().toMap
    assert(rel(withNull) == rel(control), "null-ts row does not perturb released values")
    assert(rel(withNull) == Map(1L -> 7000L, 2L -> 0L),
      "refund nets the posting exactly as batch (p1 100 − 30); the advance row itself is still pending")
    assert(!rel(withNull).contains(3L), "null-ts row never releases")
    assert(StreamNetting.readDeadLetters(ss, withNull).get.count() == 0,
      "null-ts row never dead-letters")
  }

  test("replay of a committed batch is a no-op returning the committed delta") {
    val base = tmp()
    apply1(base, Seq((1L, 1L, "2024-01-01 00:00:00", 50.00)), DAY, 0L)
    val first = apply1(base, Seq((1L, 2L, "2024-01-10 00:00:00", 5.00)), DAY, 1L)
      .select("id", "net_cents").as[(Long, Long)].collect().toSet
    val replay = apply1(base, Seq((1L, 2L, "2024-01-10 00:00:00", 5.00)), DAY, 1L)
      .select("id", "net_cents").as[(Long, Long)].collect().toSet
    assert(first == replay && first == Set((1L, 5000L)))
    assert(StreamNetting.readReleased(ss, base).get.count() == 1,
      "the released log is not double-appended")
  }

  test("netted remittance: streamed allocations equal batch allocate-over-netAdjustments") {
    val invoices = Seq((1L, 101L, "2024-01-01", 10.00), (1L, 102L, "2024-02-01", 20.00))
      .toDF("cust", "inv", "d0", "amt")
      .select(col("cust"), col("inv"), col("d0").cast("date").as("d"), col("amt"))
    val ledger = Remittance.invoiceIntervals(
      invoices, col("cust"), col("inv"), col("d"), col("amt"))
    val nettingDir = tmp(); val remitDir = tmp()
    val all = Seq(
      (1L, 901L, "2024-03-01 00:00:00", 15.00),
      (1L, 902L, "2024-03-02 00:00:00", -8.00), // in-horizon refund
      (1L, 903L, "2024-03-03 00:00:00", 12.00),
      (1L, 904L, "2024-03-30 00:00:00", 0.00)) // advances the watermark
    def drive(rows: Seq[(Long, Long, String, Double)], id: Long): Unit =
      StreamRemittance.applyNettedBatch(payDf(rows), col("cust"), col("pid"),
        col("ts"), col("amt"), 10 * DAY, ledger, nettingDir, remitDir, id)
    drive(all.slice(0, 2), 0L)
    drive(all.slice(2, 3), 1L)
    drive(all.slice(3, 4), 2L)

    val streamed = StreamRemittance.readAllocations(ss, remitDir).get
      .as[(Long, Long, Long, Long)].collect().toSet
    val netted = Remittance.netAdjustments(payDf(all),
      col("cust"), col("pid"), col("ts"), col("amt"))
    val batch = Remittance.allocateFifo(
        invoices, col("cust"), col("inv"), col("d"), col("amt"),
        netted, col("key"), col("id"), col("ts"), col("net_amount"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // hand-check: net 15-8=7 on 901, 12 on 903 → 901 covers 700 of inv
    // 101, 903 covers the remaining 300 + 900 of inv 102
    assert(streamed == Set((1L, 101L, 901L, 700L), (1L, 101L, 903L, 300L),
      (1L, 102L, 903L, 900L)))
    assert(StreamNetting.readDeadLetters(ss, nettingDir).get.count() == 0)
  }
}
