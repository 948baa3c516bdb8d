package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import scala.collection.mutable
import graft.SparkSpec
import graft.operators.Expectations
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Streaming END-TO-END flagship (VERDICT r11 task 7): the batch side has
  * MailingE2ESpec; this chains the streaming corpus operators the way a
  * production ingest would run them, on a FILE-stream fixture:
  *
  *   S8  `StreamCorpus.prepareStream`   — normalize / gate / exact dedup
  *   S17 `StreamDedupAdmit.applyBatch`  — near-dup admission vs the store
  *   S19 `StreamSketch.applyBatch`      — sketch store over ADMITTED docs
  *   S14 `StreamExpectations.checkBatch`— per-batch quality verdicts
  *
  * and asserts the admitted corpus equals what the batch
  * `CorpusPipeline.prepare` keeps as canonical docs (id == canon_id) on
  * the same documents — the stream and the batch compaction agree on the
  * corpus. Everything is deterministic (md5 hashing, fixed fixture), so
  * the near-dup agreements are reproducible, not probabilistic flakes.
  */
class StreamingE2ESpec extends SparkSpec {
  import ss.implicits._

  private val K = 3
  private val NumHashes = 16
  private val RowsPerBand = 2
  private val MinAgree = 12

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
  private def tmp(p: String) = Files.createTempDirectory(p).toString

  // three disjoint-vocabulary English docs + near-dup variants + gate bait
  private val docA = "the quick brown fox jumps over the lazy dog while the " +
    "cat watches from the warm stone wall near the old oak tree by the river"
  private val docB = "entirely different content about distributed query " +
    "engines shuffling partitioned columnar data across a thousand executors " +
    "with adaptive plans and broadcast hash joins at petabyte scale"
  private val docC = "a quiet morning walk along the open road to the coast " +
    "brings salt air and gulls above the harbor wall before the town wakes"
  private val docANear = docA.replace("watches", "stares") // near-dup of A
  private val docBNear = docB + " indeed"                  // near-dup of B
  private val spammy = "spam spam spam spam spam spam spam spam the and of to a"
  private val spanish = "de que la el y de que la el y de que la el y"

  private val drop1 = Seq((1L, ts(0), docA), (2L, ts(1), docANear),
    (3L, ts(1), spammy), (4L, ts(2), docB))
  private val drop2 = Seq((5L, ts(5), docA), // exact content resend, new id
    (6L, ts(6), docBNear), (7L, ts(7), docC), (8L, ts(8), spanish))

  test("file-stream ingest -> admission -> sketches -> verdicts equals batch corpus") {
    val srcDir = tmp("e2e-src")
    val dedupDir = tmp("e2e-dedup")
    val sketchDir = tmp("e2e-sketch")
    val cfg = graft.pipeline.CorpusPipeline.Config(maxDupWordFracQ = 5000L)
    val checks: Seq[Expectations.Check] = Seq(
      Expectations.Complete("text"),
      Expectations.InSetPct("lang", Seq("en"), Expectations.Ppm),
      Expectations.MinRows(1))
    val verdicts = mutable.ArrayBuffer.empty[Row]

    drop1.toDF("doc_id", "ts", "text").write.parquet(s"$srcDir/drop1")
    val schema = ss.read.parquet(s"$srcDir/drop1").schema
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet").parquet(s"$srcDir/*")
    val prepared = StreamCorpus.prepareStream(stream, col("doc_id"), col("text"),
      "ts", watermark = "30 minutes", cfg)

    val q = prepared.writeStream
      .option("checkpointLocation", tmp("e2e-ckpt"))
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          StreamDedupAdmit.applyBatch(batch, col("id"), col("text"), dedupDir,
            bid, K, NumHashes, RowsPerBand, MinAgree)
          val admitted = ss.read.parquet(
            new Path(VersionedStore.versionDir(dedupDir, bid), "admitted").toString)
          StreamSketch.applyBatch(admitted, col("lang"), col("lang"),
            col("ws_tokens"), sketchDir, bid, depth = 4, width = 64)
          verdicts ++= StreamExpectations.checkBatch(admitted, checks, bid).collect()
        }
        () // the lambda must be (DataFrame, Long) => Unit for overload resolution
      }
      .start()
    try {
      q.processAllAvailable()
      drop2.toDF("doc_id", "ts", "text").write.parquet(s"$srcDir/drop2")
      q.processAllAvailable()
    } finally q.stop()

    // S17: the continuously-admitted corpus. Gate drops 3 (repetition) and
    // 8 (lang); watermark dedup drops 5 (exact resend of A's content);
    // admission drops 2 (intra-batch near-dup of 1) and 6 (store near-dup
    // of 4). First-seen == min id because drops arrive in id order.
    val admittedIds = StreamDedupAdmit.admittedAll(ss, dedupDir).get
      .select("id").as[Long].collect().toSet
    assert(admittedIds == Set(1L, 4L, 7L), s"admitted: $admittedIds")

    // batch equivalence: CorpusPipeline.prepare's canonical docs on the
    // same 8 documents are the same set
    val batchCanon = graft.pipeline.CorpusPipeline.prepare(
        (drop1 ++ drop2).map { case (id, _, t) => (id, t) }.toDF("doc_id", "text"),
        col("doc_id"), col("text"), cfg)
      .filter(col("id") === col("canon_id"))
      .select("id").as[Long].collect().toSet
    assert(batchCanon == admittedIds,
      s"stream admitted $admittedIds but batch canon is $batchCanon")

    // S19: the sketch store saw exactly the admitted docs — every CMS row
    // (depth rows) counts each admitted item once, and the quantile
    // sketch's bucket mass equals the admitted doc count
    val cmsTotal = StreamSketch.readLatestCms(ss, sketchDir).get
      .agg(sum("n")).as[Long].head()
    assert(cmsTotal == 4L * admittedIds.size, s"cms mass $cmsTotal")
    val quantTotal = StreamSketch.readLatestQuantileSketch(ss, sketchDir).get
      .agg(sum("n")).as[Long].head()
    assert(quantTotal == admittedIds.size.toLong, s"quantile mass $quantTotal")

    // S14: every per-batch verdict passed (admitted rows are complete,
    // English, non-empty) — and both batches produced verdicts
    assert(verdicts.nonEmpty && verdicts.map(_.getAs[Long]("batch_id")).distinct.size == 2)
    val failed = verdicts.filterNot(_.getAs[Boolean]("passed"))
    assert(failed.isEmpty, s"failed verdicts: $failed")
  }
}
