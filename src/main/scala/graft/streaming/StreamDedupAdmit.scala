package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.IncrementalDedup

/** Streaming near-dup corpus admission (SURVEY §2b S17): the streaming
  * form of [[IncrementalDedup]] — an unbounded document stream is
  * admitted batch-by-batch against the ever-growing signature store, so
  * the corpus stays near-dup-free CONTINUOUSLY instead of via periodic
  * full-corpus dedup sweeps (which at 100 TB re-read everything).
  *
  * State lives in the lake, not Spark's state store (the [[StreamScd2]]
  * discipline — signature-store size is corpus-scale, exactly what the
  * per-key state store is wrong for): each micro-batch reads the latest
  * committed store version, runs the batch operator, and publishes a
  * batchId-numbered version holding BOTH the grown store and that
  * batch's admitted rows. The commit marker is written after the data,
  * so replayed at-least-once `foreachBatch` calls find their version
  * committed and skip — admission runs exactly once per batch, and a
  * torn write is invisible.
  *
  * Cost shape per batch: signatures over the BATCH only (the store is
  * probed through the LSH band join, never re-shingled) plus one
  * store rewrite. The store rewrite is the deliberate simplicity here —
  * an appendable store (per-batch signature delta dirs unioned at read)
  * drops that cost to O(batch) too. The swap touches two reads: the
  * `store` sub that [[applyBatch]] takes from
  * [[VersionedStore.commitBatch]]'s newest-version reader, and
  * [[readLatestStore]].
  */
object StreamDedupAdmit {

  /** Latest committed signature store, if any batch has committed. */
  def readLatestStore(spark: SparkSession, baseDir: String): Option[DataFrame] =
    VersionedStore.readLatest(spark, baseDir, "store")

  /** Every admitted row across all committed batches — the deduplicated
    * corpus the stream has built so far (compaction-aware union; see
    * [[VersionedStore.readLog]]). */
  def admittedAll(spark: SparkSession, baseDir: String): Option[DataFrame] =
    VersionedStore.readLog(spark, baseDir, "admitted")

  /** Compact the admitted log (one directory per micro-batch otherwise);
    * replay-safe between batches — [[VersionedStore.compactLogs]]. */
  def compact(spark: SparkSession, baseDir: String): Boolean =
    VersionedStore.compactLogs(spark, baseDir, Seq("admitted"))

  /** One micro-batch: admit against the latest store, publish version
    * `b<batchId>`. Replay-idempotent. Public so the spec and batch
    * backfills drive the exact code the stream runs. */
  def applyBatch(batch: DataFrame, idCol: Column, textCol: Column, baseDir: String,
                 batchId: Long, k: Int, numHashes: Int, rowsPerBand: Int,
                 minAgree: Int, maxBucketSize: Long = Long.MaxValue): Unit = {
    VersionedStore.commitBatch(batch.sparkSession, baseDir, batchId) { latest =>
      val store = latest("store")
        .getOrElse(IncrementalDedup.emptyStore(batch.sparkSession, k, numHashes))
      val adm = IncrementalDedup.admit(batch, idCol, textCol, store,
        k, numHashes, rowsPerBand, minAgree, maxBucketSize)
      Seq("store" -> adm.store, "admitted" -> adm.admitted)
    }
  }

  /** Wire the stream: documents in, a continuously-deduplicated corpus
    * out (read with [[admittedAll]]). */
  def sink(docs: DataFrame, idCol: Column, textCol: Column, baseDir: String,
           checkpointDir: String, k: Int, numHashes: Int, rowsPerBand: Int,
           minAgree: Int, maxBucketSize: Long = Long.MaxValue): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, idCol, textCol, baseDir, batchId,
          k, numHashes, rowsPerBand, minAgree, maxBucketSize)
      }
      .start()
}
