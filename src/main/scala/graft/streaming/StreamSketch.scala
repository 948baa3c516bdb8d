package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{CountMin, QuantileSketch}

/** Streaming sketch-store maintenance (SURVEY §2b S19): a Count-Min
  * frequency matrix and a log₂-histogram quantile sketch of an unbounded
  * stream, kept continuously queryable — "how often has THIS item
  * occurred so far" and "what is p99 of this metric so far" at any
  * moment, without ever re-reading history.
  *
  * This is the payoff of the sketch family's mergeability (L67/L69):
  * per batch, sketch ONLY the batch (bounded cells regardless of batch
  * size), merge with the latest committed store — count addition — and
  * publish a new version. The store is ≤ depth·width + 64·|groups| rows
  * of integers, so unlike S17's corpus-scale signature store the rewrite
  * cost is trivially O(1) per batch forever.
  *
  * Exactly-once via [[VersionedStore]] (batchId versions + commit
  * markers): replayed `foreachBatch` calls skip, torn writes are
  * invisible, and merged-store == one-shot-over-history is spec-pinned
  * (associativity is what makes replay+merge sound at all).
  */
object StreamSketch {

  /** Latest committed CMS cells (j, bucket, n), if any. */
  def readLatestCms(spark: SparkSession, baseDir: String): Option[DataFrame] =
    VersionedStore.readLatest(spark, baseDir, "cms")

  /** Latest committed quantile-sketch buckets (grp, bucket, n), if any. */
  def readLatestQuantileSketch(spark: SparkSession, baseDir: String): Option[DataFrame] =
    VersionedStore.readLatest(spark, baseDir, "quant")

  /** One micro-batch: sketch the batch, merge into the latest store,
    * publish `b<batchId>`. Replay-idempotent. Public so specs and batch
    * backfills drive the exact code the stream runs. */
  def applyBatch(batch: DataFrame, itemCol: Column, grpCol: Column, valCol: Column,
                 baseDir: String, batchId: Long, depth: Int, width: Int): Unit = {
    VersionedStore.commitBatch(batch.sparkSession, baseDir, batchId) { latest =>
      val cmsBatch = CountMin.sketch(batch, itemCol, depth, width)
      val quantBatch = QuantileSketch.sketch(batch, grpCol, valCol)
      // Bounded frames (≤ depth·width / 64·|groups| rows) — materialize once
      // so the publish writes don't re-run the batch scan + store read.
      val cms = latest("cms")
        .map(prev => CountMin.merge(prev, cmsBatch)).getOrElse(cmsBatch)
        .localCheckpoint(true)
      val quant = latest("quant")
        .map(prev => QuantileSketch.merge(prev, quantBatch)).getOrElse(quantBatch)
        .localCheckpoint(true)
      Seq("cms" -> cms, "quant" -> quant)
    }
  }

  /** Wire the stream: rows in, a continuously-maintained sketch store
    * out (read with [[readLatestCms]]/[[readLatestQuantileSketch]]). */
  def sink(rows: DataFrame, itemCol: Column, grpCol: Column, valCol: Column,
           baseDir: String, checkpointDir: String,
           depth: Int, width: Int): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, itemCol, grpCol, valCol, baseDir, batchId, depth, width)
      }
      .start()
}
