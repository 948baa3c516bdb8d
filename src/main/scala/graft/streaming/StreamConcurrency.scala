package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Intervals

/** Streaming interval concurrency (SURVEY §2b S21): the R66 sweep line
  * maintained continuously — an unbounded stream of [start, end] date
  * intervals (orders opening/closing, sessions, tickets) keeps a
  * queryable "how many were in flight per day" view without re-reading
  * history.
  *
  * The insight that makes it cheap: the sweep's day-grain endpoint
  * DELTAS are mergeable by per-day addition, so the store is just the
  * accumulated (d, n_start, n_freed) frame — bounded by the calendar,
  * not the stream — and each batch contributes one map-side-combinable
  * delta aggregate. The running actives are recomputed at READ time
  * ([[activeDaily]]) over the ≤ years×365-row store, where the
  * one-partition prefix window is the deliberate R66 shape. Late or
  * out-of-order intervals are handled by construction (deltas commute).
  *
  * Exactly-once via [[VersionedStore]]; stream-accumulated ==
  * batch-over-history spec-pinned.
  */
object StreamConcurrency {

  /** Latest committed delta store (d, n_start, n_freed), if any. */
  def readLatestDeltas(spark: SparkSession, baseDir: String): Option[DataFrame] =
    VersionedStore.readLatest(spark, baseDir, "")

  /** The current daily-actives view off the latest store. */
  def activeDaily(spark: SparkSession, baseDir: String): Option[DataFrame] =
    readLatestDeltas(spark, baseDir).map(Intervals.activeFromDeltas)

  /** One micro-batch: day-grain deltas of the batch merged into the
    * store, published as `b<batchId>`. Replay-idempotent. */
  def applyBatch(batch: DataFrame, startCol: Column, endCol: Column,
                 baseDir: String, batchId: Long): Unit = {
    VersionedStore.commitBatch(batch.sparkSession, baseDir, batchId) { latest =>
      val dl = Intervals.deltas(batch, startCol, endCol)
      // one write consumer, no eager checkpoint: checkpoint-then-write
      // materializes twice and costs an extra job per batch (round-18)
      Seq("" -> latest("")
        .map(prev => prev.unionByName(dl).groupBy("d")
          .agg(sum("n_start").as("n_start"), sum("n_freed").as("n_freed")))
        .getOrElse(dl))
    }
  }

  def sink(intervals: DataFrame, startCol: Column, endCol: Column,
           baseDir: String, checkpointDir: String): StreamingQuery =
    intervals.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, startCol, endCol, baseDir, batchId)
      }
      .start()
}
