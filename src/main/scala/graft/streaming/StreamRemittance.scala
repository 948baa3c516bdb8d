package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Remittance

/** Streaming FIFO payment application (SURVEY §2b S23) — the continuous
  * form of [[graft.operators.Remittance]]: payments stream in, each
  * micro-batch allocates them against the static open-invoice ledger and
  * appends the (invoice, payment, cents) allocation rows, so settlement
  * state is always current instead of recomputed per mailing run.
  *
  * The cumsum-interval formulation makes the state TINY: everything the
  * next batch needs about a debtor's payment history is its cumulative
  * payment total — the money-axis offset, ONE long per debtor, never
  * payment history. (`received_cents`, not "applied": a payment
  * overshooting the open-invoice total still advances the axis, so the
  * stored total can exceed what settlement reports as paid.) A batch's
  * payments get per-key (ts, id) cumsum offsets, are shifted by the
  * stored total so the money axis stays continuous across batches, and
  * intersect the invoice intervals exactly as the batch operator does
  * (same [[Remittance.allocate]] code).
  *
  * FIFO order across batches is ARRIVAL order (batch boundaries are the
  * ledger's commit order — the standard treatment); within a batch it is
  * (ts, id). When arrival respects event time, the union of the stream's
  * allocations equals the batch operator's on the same payments
  * (spec-pinned, the streaming-family rule).
  *
  * Delivery is effective-once via the [[VersionedStore]] commit markers
  * (the S17/S19/S22 discipline): an at-least-once foreachBatch replay
  * sees its batch id committed and skips, so allocations are never
  * double-appended. Scale shape per batch: one per-key window over the
  * BATCH (batch-sized), one equi-join with the debtor-sized totals
  * store, one equi-join with the invoice ledger — nothing grows with
  * stream history except the allocation log itself, which is the output.
  *
  * STREAM-SOURCE CONTRACT: refunds/chargebacks must be netted UPSTREAM —
  * netting needs the debtor's per-row payment history, which the
  * one-long-per-debtor state deliberately does not keep. Two upstream
  * options: batch [[Remittance.netAdjustments]], or the in-stream
  * watermark-horizon netting stage ([[StreamNetting]], composed here by
  * [[nettedSink]]) which nets refunds arriving within the horizon of
  * their prior postings and dead-letters only past-horizon remainders
  * (round-15; closes the round-14 boundary where every refund
  * dead-lettered). A negative row that reaches THIS sink anyway is routed
  * to a per-batch `rejects` dead-letter output ([[readRejects]]) inside
  * the same commit, NEVER raised: the batch operator's `raise_error`
  * guard would otherwise fire on every foreachBatch retry of that
  * micro-batch and wedge the stream permanently on one poison row
  * (round-13 review). Versions committed before the dead-letter existed
  * have no `rejects` dir; [[readRejects]] skips them (on-read migration,
  * like the `received_cents` rename).
  */
object StreamRemittance {

  /** Latest committed (key, received_cents) totals, if any batch committed.
    * Stores written before the received_cents rename carry the old
    * `paid_cents` column name — read them through the rename so a resumed
    * stream never wedges on its own pre-rename state (the next publish
    * writes the new name; one-way migration, no data change — the column
    * always held the cumulative received total). */
  def readLatestTotals(spark: SparkSession, baseDir: String): Option[DataFrame] =
    VersionedStore.readLatest(spark, baseDir, "totals").map(renamePaid)

  private def renamePaid(totals: DataFrame): DataFrame =
    if (totals.columns.contains("paid_cents"))
      totals.withColumnRenamed("paid_cents", "received_cents")
    else totals

  /** Compact the allocation/reject logs (one directory per micro-batch
    * otherwise); replay-safe between batches — [[VersionedStore.compactLogs]]. */
  def compact(spark: SparkSession, baseDir: String): Boolean =
    VersionedStore.compactLogs(spark, baseDir, Seq("alloc", "rejects"))

  /** Every allocation row committed so far (compaction-aware union over
    * versions, see [[VersionedStore.readLog]]) — (key, inv_id, pay_id,
    * alloc_cents). None before the first commit. */
  def readAllocations(spark: SparkSession, baseDir: String): Option[DataFrame] =
    VersionedStore.readLog(spark, baseDir, "alloc")

  /** Negative (refund/chargeback) rows dead-lettered so far — (key,
    * pay_id, ts, cents), cents < 0 — for the upstream netting job to
    * reconcile. None before the first commit; versions without a
    * `rejects` dir are skipped. */
  def readRejects(spark: SparkSession, baseDir: String): Option[DataFrame] =
    VersionedStore.readLog(spark, baseDir, "rejects")

  /** One micro-batch of payments against the static invoice-interval
    * ledger (build it once with [[Remittance.invoiceIntervals]]).
    * Replay-idempotent. Negative rows go to the `rejects` dead-letter
    * (see the contract above), the rest allocate. Public so specs and
    * backfills drive the exact code the stream runs. */
  def applyBatch(batch: DataFrame, pKey: Column, payId: Column,
                 payTs: Column, payAmount: Column,
                 invIntervals: DataFrame, baseDir: String,
                 batchId: Long): Unit = {
    VersionedStore.commitBatch(batch.sparkSession, baseDir, batchId) { latest =>
      val prev = latest("totals").map(renamePaid)
      val cents = round(payAmount * 100).cast("long")
      val rejects = batch.where(cents < 0)
        .select(pKey.as("key"), payId.as("pay_id"), payTs.as("ts"), cents.as("cents"))
      // null amounts stay on the main path (they become zero-width intervals
      // and allocate nothing — the batch operator's existing behavior)
      val clean = batch.where(cents.isNull || cents >= 0)
      val rel = Remittance.paymentIntervals(clean, pKey, payId, payTs, payAmount)
      // shift this batch's relative intervals by the debtor's axis offset
      val pay = prev match {
        case None => rel
        case Some(t) => rel.join(t.select(col("key"), col("received_cents")), Seq("key"), "left")
          .select(col("key"), col("pay_id"),
            (col("pay_lo") + coalesce(col("received_cents"), lit(0L))).as("pay_lo"),
            (col("pay_hi") + coalesce(col("received_cents"), lit(0L))).as("pay_hi"))
      }
      val alloc = Remittance.allocate(invIntervals, pay)
      val batchTotals = pay.groupBy("key").agg(max(col("pay_hi")).as("received_cents"))
      val totals = prev match {
        case None => batchTotals
        case Some(t) => t.unionByName(batchTotals)
          .groupBy("key").agg(max(col("received_cents")).as("received_cents"))
      }
      // Each frame feeds exactly ONE write: no eager checkpoint first —
      // checkpoint-then-write materializes the rows twice (cache pass +
      // write pass) and pays an extra job per sub-store per micro-batch
      // for frames nothing else consumes (round-18 job audit: applyBatch
      // ran 3 extra jobs/batch on frames with a single downstream write).
      // The three writes are independent of one another, so they publish
      // concurrently: totals and alloc overlap their shared `pay`
      // recompute and their plan+schedule+commit round trips instead of
      // paying them back to back.
      Seq("totals" -> totals, "alloc" -> alloc, "rejects" -> rejects)
    }
  }

  /** One micro-batch through the NETTED path: the [[StreamNetting]] stage
    * buffers/nets/releases first (its own versioned store, its own
    * effective-once marker), then this batch's RELEASED netted rows — all
    * non-negative by the envelope construction — allocate through
    * [[applyBatch]]. Two stores, two idempotent commits: a replay that
    * died between them re-reads the netting stage's committed delta and
    * finishes the allocation commit, never double-applying either side.
    * Zero-net releases become zero-width intervals and allocate nothing
    * (the batch operator's existing behavior). Allocation order is
    * RELEASE order, which is event-time order per key by the watermark
    * construction — so in-horizon arrivals allocate exactly as the batch
    * operator would on the netted rows (spec-pinned). */
  def applyNettedBatch(batch: DataFrame, pKey: Column, payId: Column,
                       payTs: Column, payAmount: Column, horizonSec: Long,
                       invIntervals: DataFrame, nettingDir: String,
                       baseDir: String, batchId: Long): Unit = {
    val released = StreamNetting.applyBatch(batch, pKey, payId, payTs,
      payAmount, horizonSec, nettingDir, batchId)
    applyBatch(released, col("key"), col("id"), col("ts"),
      col("net_amount"), invIntervals, baseDir, batchId)
  }

  /** Wire the netted stream: raw payments INCLUDING refunds in; in-horizon
    * refunds net against their prior postings, past-horizon remainders
    * dead-letter ([[StreamNetting.readDeadLetters]] on `nettingDir`), and
    * the released netted flow allocates FIFO continuously. */
  def nettedSink(payments: DataFrame, pKey: Column, payId: Column,
                 payTs: Column, payAmount: Column, horizonSec: Long,
                 invIntervals: DataFrame, nettingDir: String,
                 baseDir: String, checkpointDir: String): StreamingQuery =
    payments.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyNettedBatch(batch, pKey, payId, payTs, payAmount, horizonSec,
          invIntervals, nettingDir, baseDir, batchId)
      }
      .start()

  /** Wire the stream: payments in, a continuously-current allocation
    * ledger + per-debtor received totals out. */
  def sink(payments: DataFrame, pKey: Column, payId: Column,
           payTs: Column, payAmount: Column,
           invIntervals: DataFrame, baseDir: String,
           checkpointDir: String): StreamingQuery =
    payments.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, pKey, payId, payTs, payAmount, invIntervals, baseDir, batchId)
      }
      .start()
}
