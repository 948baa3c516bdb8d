package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import graft.functions.TextClean

/** Streaming blocklist maintenance (SURVEY §2b S22): the reference's
  * critical-status blocklist (R8, `processing_pipeline.py:64-90`) as a
  * continuously-maintained store instead of a per-run log rescan — each
  * micro-batch of disposition events folds its critical-status counts
  * into a cumulative per-key count table in a [[VersionedStore]], and
  * the batch mailing pipeline reads "the blocked set as of now" off the
  * latest version with one filter.
  *
  * State discipline of the family (S17/S19): what persists is the
  * KEY-CARDINALITY count table, never event history — a key's row is 16
  * bytes forever no matter how many events it accrues, and the
  * threshold is applied AT READ TIME, so ops can move the dial (R76's
  * sweep) without rebuilding state. Delivery is effective-once via the
  * store's commit markers: an at-least-once `foreachBatch` replay sees
  * its batch id committed and skips.
  *
  * Scale shape per batch: one map-side-combinable filter+count over the
  * batch, one key-equality merge with the (key-sized) store — both
  * shuffles bounded by key cardinality, nothing grows with history.
  */
object StreamBlocklist {

  /** Latest committed (key, n_critical) counts, if any batch committed. */
  def readLatestCounts(spark: SparkSession, baseDir: String): Option[DataFrame] =
    VersionedStore.readLatest(spark, baseDir, "counts")

  /** The blocked-key set at `threshold`, read off the latest store
    * version — the frame [[graft.operators.Blocklist.removeByStatusThreshold]]
    * derives from the full log, without the log. Empty frame when no
    * batch has committed yet (nobody blocked before evidence exists).
    * `keyType` fixes the no-committed-batch frame's schema — it must
    * match the `keyCol` fed to [[sink]], or the empty and non-empty
    * store states would hand downstream joins different key types. */
  def blockedKeys(spark: SparkSession, baseDir: String, threshold: Int,
                  keyType: DataType = LongType): DataFrame =
    readLatestCounts(spark, baseDir)
      .map(_.filter(col("n_critical") >= threshold).select("key"))
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("key", keyType)))))

  /** One micro-batch: count the batch's critical statuses per key, merge
    * into the latest counts, publish `b<batchId>`. Replay-idempotent.
    * Public so specs and batch backfills drive the exact code the stream
    * runs. */
  def applyBatch(batch: DataFrame, keyCol: Column, statusCol: Column,
                 criticalStatuses: Seq[String], baseDir: String,
                 batchId: Long): Unit = {
    VersionedStore.commitBatch(batch.sparkSession, baseDir, batchId) { latest =>
      val delta = batch
        .filter(TextClean.normKey(statusCol)
          .isin(criticalStatuses.map(_.toLowerCase): _*))
        .groupBy(keyCol.as("key")).agg(count(lit(1)).as("n_critical"))
      // one write consumer, no eager checkpoint: checkpoint-then-write
      // materializes twice and costs an extra job per batch (round-18)
      Seq("counts" -> latest("counts")
        .map(prev => prev.unionByName(delta)
          .groupBy("key").agg(sum("n_critical").as("n_critical")))
        .getOrElse(delta))
    }
  }

  /** Wire the stream: disposition events in, a continuously-queryable
    * blocklist store out. */
  def sink(events: DataFrame, keyCol: Column, statusCol: Column,
           criticalStatuses: Seq[String], baseDir: String,
           checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, keyCol, statusCol, criticalStatuses, baseDir, batchId)
      }
      .start()
}
