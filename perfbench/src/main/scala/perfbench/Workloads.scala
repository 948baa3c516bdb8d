package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.functions._

/** A workload: the registered queries whose oracles check its outputs,
  * the untimed reset before each iteration, one timed iteration, and the
  * traced extras recorded after a warm iteration. */
trait Workload {
  def oracles: Seq[String]
  def reset(ctx: Ctx): Unit = {
    Result.deleteTree(Paths.get(ctx.path("out")))
    ctx.spark.catalog.clearCache()
  }
  def run(ctx: Ctx, it: Iteration): Unit
  def traced(ctx: Ctx, t: Trace): Unit = ()
}

object Workloads {
  val byName: Map[String, Workload] = Map(
    "mailing_daily" -> MailingDaily,
    "query_mix" -> QueryMix,
    "stream_store" -> StreamStore)
}

/** `RunMailing.execute` with `RunMailing.main`'s default configuration. */
object MailingDaily extends Workload {
  val oracles = Seq("q153_mailing_pipeline")
  val config: graft.pipeline.GraftConfig = graft.pipeline.GraftConfig.default.copy(
    humanCutoff = 1500000.0,
    slotGroups = ListMap(
      "08HRS" -> Seq("BUILDING", "MACHINERY"),
      "09HRS" -> Seq("HOUSEHOLD"),
      "10HRS" -> Seq("FURNITURE")))

  def run(ctx: Ctx, it: Iteration): Unit = {
    val out = ctx.path("out/mailing")
    val state = new graft.state.StateStore(s"$out/state.json")
    it.op(ctx.span(it, "entry.execute_s") {
      graft.RunMailing.execute(ctx.spark, ctx.input, out, config, state)
    })
  }

  override def traced(ctx: Ctx, t: Trace): Unit = {
    val out = ctx.path("out/mailing")
    val probe = ctx.path("probe")
    Files.createDirectories(Paths.get(probe))
    t.span("sinks.zip_s")(graft.sinks.Archiver.zipDirectory(s"$out/human", s"$probe/human.zip"))
    t.span("state.save_s")(new graft.state.StateStore(s"$probe/state.json")
      .saveSuccess(Map("human" -> 1L, "robot" -> 1L, "zip_entries" -> 1L)))
    val (files, bytes) = Result.dirSize(Paths.get(out))
    t.count("sinks.files_written", files)
    t.count("sinks.bytes_written", bytes)
  }
}

/** Registered queries, each fully materialized, in a fixed order. */
object QueryMix extends Workload {
  val queries: Seq[String] = Seq(
    "q04_blocklist_threshold", "q05_enrich_topk_wide", "q08_top3_pivot", "q09_br_format",
    "q25_simhash", "q56_repetition", "q147_threshold_curve", "q164_exact_substr")
  def oracles: Seq[String] = queries

  def run(ctx: Ctx, it: Iteration): Unit = queries.foreach { name =>
    try it.op(ctx.span(it, s"queries.${name}_s") {
      Sink.materialize(ctx, it, name, graft.SparkEntry.queries(name)(ctx.spark, ctx.input))
    }) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        it.failedOps += 1
    }
  }
}

/** Documents through `StreamDedupAdmit.applyBatch` and purchase events
  * through `StreamNetting.applyBatch`, in micro-batches, with compaction
  * every two batches and a final read of both logs. The batching is q183's
  * (documents by `doc_id` residue) and q168's (events at two day cuts,
  * then a far-future sentinel), so both logs have an oracle. */
object StreamStore extends Workload {
  val oracles = Seq("q183_incremental_dedup", "q168_stream_netting")
  val Batches = 3
  val CompactEvery = 2
  val tsCuts: Seq[String] = Seq("2024-01-11", "2024-01-21")
  /** Wider than the data's span, so every refund nets against pending
    * postings; the sentinel then releases every row. */
  val horizonSec: Long = 365L * 86400L

  def run(ctx: Ctx, it: Iteration): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val dedupDir = ctx.path("out/stream/dedup")
    val netDir = ctx.path("out/stream/net")
    val docs = graft.sources.Tables.documents(spark, ctx.input)
    (0 until Batches).foreach { b =>
      it.op(ctx.span(it, "streaming.admit_s") {
        graft.streaming.StreamDedupAdmit.applyBatch(docs.where(pmod(col("doc_id"), lit(Batches)) === b),
          col("doc_id"), col("text"), dedupDir, b.toLong, k = 3, numHashes = 8, rowsPerBand = 2,
          minAgree = 4)
      })
      if ((b + 1) % CompactEvery == 0)
        ctx.span(it, "streaming.compact_s")(graft.streaming.StreamDedupAdmit.compact(spark, dedupDir))
    }
    val signed = when(col("event_id") % 7 === 0, -floor(col("value"))).otherwise(col("value"))
    val pay = graft.sources.Tables.events(spark, ctx.input).where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), signed.as("signed"))
    def cut(c: String) = lit(c).cast("timestamp")
    val batches = pay.where(col("ts").isNull || col("ts") < cut(tsCuts.head)) +:
      tsCuts.sliding(2).toSeq.map { case Seq(lo, hi) => pay.where(col("ts") >= cut(lo) && col("ts") < cut(hi)) } :+
      pay.where(col("ts") >= cut(tsCuts.last))
    val sentinel = Seq((-1L, -1L, "2030-01-01 00:00:00", 0.0)).toDF("user_id", "event_id", "ts0", "signed")
      .select(col("user_id"), col("event_id"), col("ts0").cast("timestamp").as("ts"), col("signed"))
    (batches :+ sentinel).zipWithIndex.foreach { case (b, i) =>
      it.op(ctx.span(it, "streaming.net_s") {
        graft.streaming.StreamNetting.applyBatch(b, col("user_id"), col("event_id"), col("ts"),
          col("signed"), horizonSec, netDir, i.toLong): Unit
      })
      if ((i + 1) % CompactEvery == 0)
        ctx.span(it, "streaming.compact_s")(graft.streaming.StreamNetting.compact(spark, netDir))
    }
    ctx.span(it, "streaming.read_s") {
      Sink.materialize(ctx, it, "admitted",
        graft.streaming.StreamDedupAdmit.admittedAll(spark, dedupDir).get)
      Sink.materialize(ctx, it, "released", graft.streaming.StreamNetting.readReleased(spark, netDir).get)
    }
  }

  override def traced(ctx: Ctx, t: Trace): Unit = {
    val spark = ctx.spark
    val offered = graft.sources.Tables.documents(spark, ctx.input).count()
    val admitted = graft.streaming.StreamDedupAdmit.admittedAll(spark, ctx.path("out/stream/dedup")).get.count()
    t.count("streaming.admit_ratio", admitted.toDouble / math.max(1L, offered))
    val (files, bytes) = Result.dirSize(Paths.get(ctx.path("out/stream")))
    t.count("streaming.store_files", files)
    t.count("streaming.store_mb", bytes / 1e6)
  }
}
