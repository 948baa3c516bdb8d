package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.AbTest

/** Streaming experiment monitor (SURVEY §2b S20): cumulative per-variant
  * (n, c) arm counts maintained in a batchId-versioned lake store, with
  * the exact-integer z² verdict (R68) recomputed after every micro-batch
  * — "is the experiment significant YET" as a live feed.
  *
  * Arm counts are the ultimate mergeable sketch (two Longs per variant —
  * addition), so the S19 store discipline costs O(|variants|) per batch.
  * Input contract: each row is one FINAL observation (one row per
  * experiment unit, emitted once by the upstream assignment — replays of
  * a unit would double-count, which is the upstream's dedup obligation,
  * e.g. via [[StreamDedup]]).
  *
  * The usual sequential-testing caveat applies and is the reader's, not
  * the engine's: peeking at every batch inflates false positives vs a
  * fixed-horizon test; the monitor reports the math, the analyst picks
  * the stopping rule. Exactly-once via [[VersionedStore]]; cumulative ==
  * one-shot-over-history and replay no-op are spec-pinned.
  */
object StreamAbTest {

  /** Latest cumulative arms (v, n, c), if any batch committed. */
  def readLatestArms(spark: SparkSession, baseDir: String): Option[DataFrame] =
    VersionedStore.readLatest(spark, baseDir, "arms")

  /** All per-batch verdict rows appended so far (the monitor table;
    * compaction-aware union — see [[VersionedStore.readLog]]). */
  def verdictsAll(spark: SparkSession, baseDir: String): Option[DataFrame] =
    VersionedStore.readLog(spark, baseDir, "verdicts")

  /** Compact the verdict log (one directory per micro-batch otherwise);
    * replay-safe between batches — [[VersionedStore.compactLogs]]. */
  def compact(spark: SparkSession, baseDir: String): Boolean =
    VersionedStore.compactLogs(spark, baseDir, Seq("verdicts"))

  /** One micro-batch: add the batch's arm counts, publish cumulative
    * arms + this batch's verdict rows. Replay-idempotent. */
  def applyBatch(batch: DataFrame, variantCol: Column, successCol: Column,
                 baseDir: String, batchId: Long): Unit = {
    VersionedStore.commitBatch(batch.sparkSession, baseDir, batchId) { latest =>
      val batchArms = batch
        .select(variantCol.as("v"), successCol.cast("long").as("ok"))
        .groupBy("v").agg(count(lit(1)).as("n"), sum("ok").as("c"))
      val arms = latest("arms")
        .map(prev => prev.unionByName(batchArms)
          .groupBy("v").agg(sum("n").as("n"), sum("c").as("c")))
        .getOrElse(batchArms)
        .localCheckpoint(true)
      Seq("arms" -> arms,
        "verdicts" -> AbTest.zFromArms(arms).withColumn("batch_id", lit(batchId)))
    }
  }

  def sink(rows: DataFrame, variantCol: Column, successCol: Column,
           baseDir: String, checkpointDir: String): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, variantCol, successCol, baseDir, batchId)
      }
      .start()
}
