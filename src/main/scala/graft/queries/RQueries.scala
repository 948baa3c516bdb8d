package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators._
import graft.functions.{BrFormats, TextClean}

/** Reference-surface verify queries (SURVEY §2a), exercised on the TPC-H-ish
  * test schema (customer=clients, orders=invoices, events=disposition log).
  * Each query has an ANSI-SQL oracle with identical column names; every
  * floating aggregate is rounded identically on both sides. */
object RQueries {

  private val NAO = "NÃO" // "NÃO"

  def registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q02_per_key_totals" -> ((s, d) => q02(s, d)),
    "q03_dedup_best_row" -> ((s, d) => q03(s, d)),
    "q04_blocklist_threshold" -> ((s, d) => q04(s, d)),
    "q05_enrich_topk_wide" -> ((s, d) => q05(s, d)),
    "q06_priority_case" -> ((s, d) => q06(s, d)),
    "q07_segment_flag" -> ((s, d) => q07(s, d)),
    "q08_top3_pivot" -> ((s, d) => q08(s, d)),
    "q09_br_format" -> ((s, d) => q09(s, d)),
    "q10_clean_strings" -> ((s, d) => q10(s, d)),
    "q11_events_daily" -> ((s, d) => q11(s, d)),
    "q12_collect_distinct" -> ((s, d) => q12(s, d)),
    "q13_status_filter" -> ((s, d) => q13(s, d)),
    "q14_dedup_most_complete" -> ((s, d) => q14(s, d)),
    "q15_profile_stats" -> ((s, d) => q15(s, d)),
    "q16_sessionize" -> ((s, d) => q16(s, d)),
    "q27_join_revenue" -> ((s, d) => q27(s, d)),
    "q28_star_join" -> ((s, d) => q28(s, d)),
    "q38_event_stats" -> ((s, d) => q38(s, d)),
    "q39_asof_join" -> ((s, d) => q39(s, d)),
    "q60_asof_forward" -> ((s, d) => q60(s, d)),
    "q77_asof_nearest" -> ((s, d) => q77(s, d)),
    "q40_range_join" -> ((s, d) => q40(s, d)),
    "q43_salted_join" -> ((s, d) => q43(s, d)),
    "q47_histogram" -> ((s, d) => q47(s, d)),
    "q48_running_total" -> ((s, d) => q48(s, d)),
    "q49_daily_delta" -> ((s, d) => q49(s, d)),
    "q50_rollup" -> ((s, d) => q50(s, d)),
    "q51_set_ops" -> ((s, d) => q51(s, d)),
    "q54_column_values" -> ((s, d) => q54(s, d)),
    "q64_funnel" -> ((s, d) => q64(s, d)),
    "q65_retention" -> ((s, d) => q65(s, d)),
    "q66_transitions" -> ((s, d) => q66(s, d)),
    "q67_rolling" -> ((s, d) => q67(s, d)),
    "q68_deciles" -> ((s, d) => q68(s, d)),
    "q69_snapshot_diff" -> ((s, d) => q69(s, d)),
    "q78_scd2_apply" -> ((s, d) => q78(s, d)),
    "q86_incr_agg" -> ((s, d) => q86(s, d)),
    "q87_fingerprint" -> ((s, d) => q87(s, d)),
    "q89_temporal_join" -> ((s, d) => q89(s, d)),
    "q73_concentration" -> ((s, d) => q73(s, d)),
    "q70_melt" -> ((s, d) => q70(s, d)),
    "q71_pivot_wide" -> ((s, d) => q71(s, d)),
    "q97_robust_outliers" -> ((s, d) => q97(s, d)),
    "q99_attribution" -> ((s, d) => q99(s, d)),
    "q104_expectations" -> ((s, d) => q104(s, d)),
    "q110_skyline" -> ((s, d) => q110(s, d)),
    "q111_event_paths" -> ((s, d) => q111(s, d)),
    "q112_gap_fill" -> ((s, d) => q112(s, d)),
    "q114_drift" -> ((s, d) => q114(s, d)),
    "q115_interpolate" -> ((s, d) => q115(s, d)),
    "q116_kanon" -> ((s, d) => q116(s, d)),
    "q117_join_size" -> ((s, d) => q117(s, d)),
    "q120_quarantine" -> ((s, d) => q120(s, d)),
    "q122_fd_profile" -> ((s, d) => q122(s, d)),
    "q123_cusum" -> ((s, d) => q123(s, d)),
    "q124_basket_rules" -> ((s, d) => q124(s, d)),
    "q127_concurrency" -> ((s, d) => q127(s, d)),
    "q128_seasonality" -> ((s, d) => q128(s, d)),
    "q129_ab_test" -> ((s, d) => q129(s, d)),
    "q131_theil_sen" -> ((s, d) => q131(s, d)),
    "q133_quorum" -> ((s, d) => q133(s, d)),
    "q136_fulfillment_sla" -> ((s, d) => q136(s, d)),
    "q137_contact_policy" -> ((s, d) => q137(s, d)),
    "q138_cpf_audit" -> ((s, d) => q138(s, d)),
    "q141_rfm" -> ((s, d) => q141(s, d)),
    "q148_blocklist_sweep" -> ((s, d) => q148(s, d)),
    "q151_wave_schedule" -> ((s, d) => q151(s, d)),
    "q153_mailing_pipeline" -> ((s, d) => q153(s, d)),
    "q154_ar_aging" -> ((s, d) => q154(s, d)),
    "q155_dunning" -> ((s, d) => q155(s, d)),
    "q157_remittance" -> ((s, d) => q157(s, d)),
    "q158_benford" -> ((s, d) => q158(s, d)),
    "q159_dup_payments" -> ((s, d) => q159(s, d)),
    "q142_send_time" -> ((s, d) => q142(s, d)),
    "q144_revenue_pareto" -> ((s, d) => q144(s, d)),
    "q160_benford_verdict" -> ((s, d) => q160(s, d)),
    "q161_collections_e2e" -> ((s, d) => q161(s, d)),
    "q162_net_adjustments" -> ((s, d) => q162(s, d)),
    "q163_netted_settlement" -> ((s, d) => q163(s, d)),
    "q166_stream_blocklist" -> ((s, d) => q166(s, d)),
    "q167_stream_remittance" -> ((s, d) => q167(s, d)),
    "q168_stream_netting" -> ((s, d) => q168(s, d)),
    "q173_lake_roundtrip" -> ((s, d) => q173(s, d)),
    "q174_partition_overwrite" -> ((s, d) => q174(s, d)),
    "q175_compaction_roundtrip" -> ((s, d) => q175(s, d)),
    "q176_br_csv_roundtrip" -> ((s, d) => q176(s, d)),
    "q177_robot_slots_roundtrip" -> ((s, d) => q177(s, d)),
    "q178_stream_funnel" -> ((s, d) => q178(s, d)),
    "q179_stream_attribution" -> ((s, d) => q179(s, d)),
    "q180_stream_cusum" -> ((s, d) => q180(s, d)),
    "q181_stream_concurrency" -> ((s, d) => q181(s, d)),
    "q182_stream_scd2" -> ((s, d) => q182(s, d)),
  )

  /** Drive a [[graft.streaming.VersionedStore]]-backed streaming operator
    * inside a batch verify query: a fresh store per run, deleted after the
    * result is eagerly checkpointed off it. The q166-q168 rows exist so
    * the S22/S23/S24 streaming code paths are ORACLE-keyed, not just
    * spec-pinned: each drives the operator's real `applyBatch` (the exact
    * code `foreachBatch` runs, commit markers included) over deterministic
    * micro-batches of the test data and hash-compares the accumulated
    * store against the batch form's DuckDB oracle. */
  private def withTempStore[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      // Files.walk holds open directory handles until closed (round-16
      // review: leaking one stream per verify run drifts toward the fd cap)
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      finally walk.close()
    }
  }

  /** Deterministic event-time micro-batches: fixed tercile cuts over the
    * testdata's January span. Batch i's every timestamp precedes batch
    * i+1's by construction (rows land by ts range), so arrival order
    * respects event time — the S23 equivalence contract's premise. Null
    * timestamps ride the first batch (Spark's nulls-first ascending).
    * Three batches, not more: multi-batch state carry is exercised the
    * same, and the netting drive's per-batch window runs over the WHOLE
    * accumulating pending buffer (span-wide horizon — nothing releases
    * until the sentinel), so batch count multiplies full-data passes
    * (5+1 batches read 11.5 s at sf0.1; 3+1 read ~7). */
  private val tsCuts = Seq("2024-01-11", "2024-01-21")
  private def tsBatches(df: DataFrame): Seq[DataFrame] = {
    def cut(c: String) = lit(c).cast("timestamp")
    val first = df.where(col("ts").isNull || col("ts") < cut(tsCuts.head))
    val mids = tsCuts.sliding(2).toSeq.map { case Seq(lo, hi) =>
      df.where(col("ts") >= cut(lo) && col("ts") < cut(hi))
    }
    val last = df.where(col("ts") >= cut(tsCuts.last))
    (first +: mids) :+ last
  }

  /** S22 oracle-keyed: the streaming blocklist store, folded batch by
    * batch over the disposition log, must block exactly the keys the
    * batch threshold rule (q04, R8) derives from the full log. The
    * micro-batch split is by event-id hash — the count fold is
    * order-independent, so any partition of the log is a valid arrival
    * order. Output = q04's surviving-customer projection, read off the
    * store's latest committed version. */
  def q166(s: SparkSession, d: String): DataFrame = withTempStore("graft_q166_") { store =>
    val ev = Tables.events(s, d)
    (0 until 3).foreach { b =>
      graft.streaming.StreamBlocklist.applyBatch(
        ev.where(pmod(col("event_id"), lit(3)) === b),
        col("user_id"), col("event_type"), Seq("error"), store, b.toLong)
    }
    val blocked = graft.streaming.StreamBlocklist.blockedKeys(s, store, threshold = 3)
    Tables.load(s, d, "customer")
      .join(blocked, col("c_custkey") === col("key"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .localCheckpoint(true) // materialize before the store is deleted
  }

  /** S23 oracle-keyed: payments stream through the real
    * [[graft.streaming.StreamRemittance.applyBatch]] in event-time
    * micro-batches against the static invoice ledger; the accumulated
    * allocation log, rolled up into q157's settlement readout, must
    * hash-equal the batch FIFO application (R80) of the same payments —
    * the S23 batch==stream contract checked by DuckDB instead of a spec
    * assertion. */
  def q167(s: SparkSession, d: String): DataFrame = withTempStore("graft_q167_") { store =>
    val invoices = Tables.orders(s, d).where(col("o_orderstatus").isin("O", "P"))
    val ledger = Remittance.invoiceIntervals(invoices,
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .localCheckpoint(true) // built once, reused per batch (the sink's own discipline)
    val pay = Tables.events(s, d).where(col("event_type") === "purchase")
    tsBatches(pay).zipWithIndex.foreach { case (b, i) =>
      graft.streaming.StreamRemittance.applyBatch(b, col("user_id"),
        col("event_id"), col("ts"), col("value"), ledger, store, i.toLong)
    }
    Remittance.settlementReadout(invoices, col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"), graft.streaming.StreamRemittance.readAllocations(s, store).get)
      .localCheckpoint(true)
  }

  /** S24 oracle-keyed: q162's signed postings/refunds stream through the
    * real [[graft.streaming.StreamNetting.applyBatch]] in event-time
    * micro-batches (pending-buffer carry, axis merge, commit
    * markers — the full path), with a horizon wider than the data span so
    * every refund's absorbers are still pending when it lands; a final
    * far-future zero-amount sentinel advances the global event-time clock
    * past every real row's release point. The released rows must
    * hash-equal the batch suffix-min envelope (q162's oracle) row for
    * row. The sentinel itself never releases (its own horizon never
    * passes) and the incremental-release/dead-letter semantics the wide
    * horizon bypasses stay spec-pinned in StreamNettingSpec. */
  def q168(s: SparkSession, d: String): DataFrame = withTempStore("graft_q168_") { store =>
    import s.implicits._
    val horizonSec = 365L * 86400L // >> the testdata's one-month span
    val signed = when(col("event_id") % 7 === 0, -floor(col("value")))
      .otherwise(col("value"))
    val pay = Tables.events(s, d).where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), signed.as("signed"))
    tsBatches(pay).zipWithIndex.foreach { case (b, i) =>
      graft.streaming.StreamNetting.applyBatch(b, col("user_id"),
        col("event_id"), col("ts"), col("signed"), horizonSec, store, i.toLong): Unit
    }
    val sentinel = Seq((-1L, -1L, "2030-01-01 00:00:00", 0.0))
      .toDF("user_id", "event_id", "ts0", "signed")
      .select(col("user_id"), col("event_id"),
        col("ts0").cast("timestamp").as("ts"), col("signed"))
    // tsBatches drives ids 0..tsCuts.length; the sentinel takes the next
    // free id (contiguous — a gap would trip any future VersionedStore
    // contiguity assumption)
    graft.streaming.StreamNetting.applyBatch(sentinel, col("user_id"),
      col("event_id"), col("ts"), col("signed"), horizonSec, store,
      tsCuts.length + 1L): Unit
    graft.streaming.StreamNetting.readReleased(s, store).get
      .select(col("key"), col("id"), col("net_cents"))
      .localCheckpoint(true)
  }

  /** B2 driver-gated (round-17, the q166 temp-store pattern applied to
    * the lake layout): a REAL partitioned lake write → partition-pruned
    * read round trip, hash-compared against a plain SQL filter of the
    * source — data fidelity through the hive-layout encode/decode
    * (partition values become directory names and are restored to the
    * schema on read) is driver-checked, not just spec-asserted. The
    * pruning evidence itself (PushedFilters / partitionFilters) stays
    * spec-pinned in LakeSinkSpec; ts round-trips as an ISO string (the
    * DATE/TIMESTAMP oracle rule). */
  def q173(s: SparkSession, d: String): DataFrame = withTempStore("graft_q173_") { lake =>
    val path = lake + "/events"
    graft.sinks.LakeSink.writePartitioned(Tables.events(s, d), path, Seq("event_type"))
    graft.sinks.LakeSink.read(s, path)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), col("value"))
      .localCheckpoint(true)
  }

  /** B7 driver-gated (round-17): dynamic partition overwrite round trip —
    * write the full events lake partitioned by type, overwrite ONLY the
    * `purchase` partition with doubled values, read everything back. The
    * oracle reproduces the merge in SQL: untouched partitions keep the
    * original rows, the overwritten partition carries the new ones, and
    * a static-mode regression (clobbering sibling partitions — the bug
    * class dynamic overwrite exists to prevent) would drop every
    * non-purchase row and fail the hash. Doubling is IEEE-exact, so
    * `value` hash-compares as a raw double. */
  def q174(s: SparkSession, d: String): DataFrame = withTempStore("graft_q174_") { lake =>
    val path = lake + "/events"
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    graft.sinks.LakeSink.writePartitioned(ev, path, Seq("event_type"))
    graft.sinks.LakeSink.overwritePartitions(
      ev.where(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2),
      path, Seq("event_type"))
    graft.sinks.LakeSink.read(s, path)
      .select(col("event_id"), col("event_type"), col("value"))
      .localCheckpoint(true)
  }

  /** B6 driver-gated (round-17): small-files compaction round trip — a
    * deliberately fragmented write (64 files for ~60k rows), compacted to
    * the target file size, must read back as EXACTLY the source rows; a
    * compaction that drops/duplicates a fragment fails the hash, and the
    * file-count collapse itself is asserted inline (the query surfaces
    * `files_ok` so the driver check covers the one thing compaction is
    * FOR). Target-size math and skip-behavior stay spec-pinned in
    * LakeSinkSpec. */
  def q175(s: SparkSession, d: String): DataFrame = withTempStore("graft_q175_") { lake =>
    val frag = lake + "/frag"; val dest = lake + "/compacted"
    Tables.orders(s, d).repartition(64)
      .write.parquet(frag)
    graft.sinks.LakeSink.compact(s, frag, dest): Unit
    val nFiles = new java.io.File(dest).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    graft.sinks.LakeSink.read(s, dest)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        lit(nFiles < 64).as("files_ok"))
      .localCheckpoint(true)
  }

  /** R20 driver-gated (round-17): the reference's BR CSV export as a
    * write→read round trip — polish (brMoney comma decimals, dd/MM/yyyy
    * dates, .0-strip ids) then the partitioned `;`-CSV write with the
    * utf-8-sig signature riding the first header, read back through
    * Spark's CSV reader with the BOM stripped off the recovered column
    * name. The oracle renders the same strings in SQL (the q09 printf
    * idiom), so a broken separator, BOM placement, null rendering, or
    * partition-directory encoding drops/garbles rows and fails the
    * hash. File-name scrubbing and collision-merge semantics stay
    * spec-pinned in BrCsvSinkSpec. */
  def q176(s: SparkSession, d: String): DataFrame = withTempStore("graft_q176_") { tmp =>
    val out = tmp + "/mailing"
    val src = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderstatus"))
    val polished = graft.sinks.BrCsvSink.polish(src,
      moneyCols = Seq("o_totalprice"), dateCols = Seq("o_orderdate"),
      idCols = Seq("o_custkey"))
    graft.sinks.BrCsvSink.writePartitioned(polished, out, "o_orderstatus")
    val back = s.read.option("header", "true").option("sep", ";").csv(out)
    back.withColumnRenamed(back.columns.head, back.columns.head.stripPrefix("\uFEFF"))
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice").as("valor_br"),
        col("o_orderdate").as("data_br"),
        col("o_orderstatus").cast("string").as("status"))
      .localCheckpoint(true)
  }

  /** R37 driver-gated (round-17): the robot per-time-slot export round
    * trip — one product in TWO slot groups duplicates into both slot
    * files (the reference's independent per-slot isin loops), ungrouped
    * products are dropped, and the `|`-separated files read back exactly
    * as the SQL union of the slot filters. A driver-loop regression,
    * wrong separator, or slot-explode bug changes the row multiset and
    * fails the hash. */
  def q177(s: SparkSession, d: String): DataFrame = withTempStore("graft_q177_") { tmp =>
    val out = tmp + "/robo"
    val src = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
    graft.sinks.BrCsvSink.writeBySlots(src, col("event_type"),
      Map("08HRS" -> Seq("view", "click"), "09HRS" -> Seq("purchase", "click")),
      out, sep = "|")
    val back = s.read.option("header", "true").option("sep", "|").csv(out)
    back.withColumnRenamed(back.columns.head, back.columns.head.stripPrefix("\uFEFF"))
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"), col("slot").cast("string").as("slot"))
      .localCheckpoint(true)
  }

  /** Drive a Dataset-typed stateful streaming operator (the
    * flatMapGroupsWithState family — S9/S13/S18) through Spark's REAL
    * streaming engine over deterministic event-time micro-batches: each
    * batch is WRITTEN to a watched directory (the data never collects to
    * the driver) and processed to completion before the next lands, so
    * arrival order respects event time — the ordering contract those
    * operators' stream==batch equivalence is conditioned on. Results
    * accumulate in a memory sink (bounded by EMITTED rows — per-key
    * state rows, not input rows) and return checkpointed off the
    * dropped temp view. */
  private def driveFileStream(s: SparkSession, name: String,
                              batches: Seq[DataFrame], outputMode: String)
                             (mk: DataFrame => org.apache.spark.sql.Dataset[_]): DataFrame =
    withTempStore("graft_stream_") { dir =>
      val srcDir = dir + "/in"
      batches.head.write.mode("overwrite").parquet(srcDir)
      // State partitions: the production knob
      // ([[graft.streaming.StreamConf.withStatePartitions]]) — a no-op
      // unless SPARK_GRAFT_STREAM_STATE_PARTITIONS is set, so the bench
      // stays comparable; set, it sizes the per-batch state-store commit
      // fan-out independently of the session's core count.
      val q = graft.streaming.StreamConf.withStatePartitions(s) {
        mk(s.readStream.schema(batches.head.schema).parquet(srcDir))
          .writeStream.outputMode(outputMode).format("memory")
          .queryName(name).start()
      }
      try {
        q.processAllAvailable()
        batches.tail.foreach { b =>
          b.write.mode("append").parquet(srcDir)
          q.processAllAvailable()
        }
      } finally q.stop()
      val out = s.table(name).localCheckpoint(true)
      s.catalog.dropTempView(name): Unit
      out
    }

  /** S9 oracle-keyed: the streaming conversion funnel — the REAL
    * flatMapGroupsWithState query driven by the streaming engine over
    * event-time tercile file drops — must land every key on exactly the
    * strict-chain state q64's batch funnel (R40) derives from the full
    * log. Update-mode emissions strictly grow `stepsCompleted` per key,
    * so the final state is the max-struct row. Null-ts rows are filtered
    * up front: they cannot advance a strict chain on either side (the
    * batch fold null-propagates them into no-ops). */
  def q178(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val steps = Seq("view", "click", "purchase")
    val ev = Tables.events(s, d)
      .where(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isin(steps: _*))
    val batches = tsBatches(ev).map(_.select(col("user_id").as("key"),
      unix_micros(col("ts")).as("tsUs"), col("event_type").as("step")))
    val rows = driveFileStream(s, "q178_funnel_sink", batches, "update") { df =>
      graft.streaming.StreamFunnel.funnelStream(
        df.as[graft.streaming.StreamFunnel.StepEvent], steps)
    }
    rows.groupBy(col("key"))
      .agg(max(struct(col("stepsCompleted"), col("times"))).as("m"))
      .select(col("key").as("user_id"),
        col("m.times").getItem(0).as("t_view_us"),
        col("m.times").getItem(1).as("t_click_us"),
        col("m.times").getItem(2).as("t_purchase_us"),
        col("m.stepsCompleted").cast("long").as("steps_completed"))
      .where(col("t_view_us").isNotNull)
  }

  /** S13 oracle-keyed: streaming last-touch attribution — the real
    * Append-mode flatMapGroupsWithState query over event-time tercile
    * drops — must emit, per purchase with an in-lookback touch, exactly
    * the last-touch row q99's batch attribution (R53) computes; the
    * oracle is q99's CTE chain restricted to its last-touch columns
    * (the stream's real-time feed carries no first-touch by design —
    * it would mean unbounded per-user history). */
  def q179(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .where(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isin("view", "click", "purchase"))
    val batches = tsBatches(ev).map(_.select(col("user_id").as("user"),
      col("event_id").as("id"), unix_micros(col("ts")).as("tsUs"),
      col("event_type").as("typ"),
      round(col("value") * 100).cast("long").as("cents")))
    val rows = driveFileStream(s, "q179_attr_sink", batches, "append") { df =>
      graft.streaming.StreamAttribution.attributeStream(
        df.as[graft.streaming.StreamAttribution.TouchEvent],
        "purchase", Seq("view", "click"), lookbackUs = 3L * 86400L * 1000000L)
    }
    rows.select(col("convId").as("conv_id"), col("user").as("user_id"),
      col("convUs").as("conv_us"), col("cents"),
      col("nTouches").as("n_touches"), col("lastTouchId").as("last_touch_id"),
      col("lastTouchType").as("last_touch_type"), col("lastTouchUs").as("last_touch_us"))
  }

  /** S18 oracle-keyed: the streaming CUSUM monitor, fed q123's daily
    * counts on the D-scaled deviation axis (x = D·n − S, ref 0, per-key
    * h = mult·S — the frozen per-metric parameters [[graft.streaming.StreamCusum.monitorKeyed]]
    * exists for), folds per key to EXACTLY the batch closed form's
    * cusum_q and alarm (R64/q123's oracle text verbatim). The params
    * collect is one row per event type — bounded metadata. */
  def q180(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .select(col("event_type").as("grp"), to_date(col("ts")).as("dd"))
      .where(col("dd").isNotNull)
      .groupBy("grp", "dd").agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // reused thrice: params, observations, final join
    val tot = daily.groupBy("grp").agg(sum("n").as("s"), count(lit(1)).as("dn"))
    val params = tot.collect()
      .map(r => r.getString(0) -> (0L, 3L * r.getLong(1))).toMap
    val obs = daily.join(tot, "grp")
      .select(col("grp"), col("dd"),
        datediff(col("dd"), lit("1970-01-01").cast("date")).cast("long").as("ord"),
        (col("dn") * col("n") - col("s")).as("x"))
    val batches = tsBatches(obs.withColumn("ts", col("dd").cast("timestamp")))
      .map(_.select(col("grp").as("key"), col("ord"), col("x")))
    val rows = driveFileStream(s, "q180_cusum_sink", batches, "append") { df =>
      graft.streaming.StreamCusum.monitorKeyed(
        df.as[graft.streaming.StreamCusum.Obs], params)
    }
    val dailyOrd = daily.withColumn("dord",
      datediff(col("dd"), lit("1970-01-01").cast("date")).cast("long"))
    rows.join(dailyOrd,
        rows("key") === dailyOrd("grp") && rows("ord") === dailyOrd("dord"))
      .select(col("grp"), date_format(col("dd"), "yyyy-MM-dd").as("day"),
        col("n"), col("cusumQ").as("cusum_q"), col("alarm"))
  }

  /** S21 oracle-keyed: the streaming sweep-line store, folded over THREE
    * hash-split interval batches via the real
    * [[graft.streaming.StreamConcurrency.applyBatch]] (delta merge +
    * commit markers), must read back exactly q127's batch daily actives
    * (R66's oracle text verbatim). The split is by order key, not event
    * time: endpoint deltas commute by per-day addition, so ANY arrival
    * order is a valid one — that commutativity is the operator's whole
    * out-of-order story, and this row proves it against the oracle. */
  def q181(s: SparkSession, d: String): DataFrame = withTempStore("graft_q181_") { store =>
    val ship = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("ship_end"))
    val iv = Tables.orders(s, d)
      .join(ship, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey").as("k"), col("o_orderdate").as("st"),
        greatest(col("ship_end"), col("o_orderdate")).as("en"))
    (0 until 3).foreach { b =>
      graft.streaming.StreamConcurrency.applyBatch(
        iv.where(pmod(col("k"), lit(3)) === b), col("st"), col("en"), store, b.toLong)
    }
    graft.streaming.StreamConcurrency.activeDaily(s, store).get.localCheckpoint(true)
  }

  /** S10 oracle-keyed: streaming SCD2 dimension maintenance — q78's two
    * snapshot days dropped as two micro-batches through the real
    * [[graft.streaming.StreamScd2.applyBatch]] (diff against the latest
    * published version, close/insert, marker-committed publish); the
    * final dimension read back must hash-equal the batch merge-apply
    * (R45b's oracle text verbatim). */
  def q182(s: SparkSession, d: String): DataFrame = withTempStore("graft_q182_") { dim =>
    val c = Tables.customer(s, d)
    val snap1 = c.filter(col("c_custkey") % 10 =!= 3)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("snap", lit("2024-01-01"))
    val snap2 = c.filter(col("c_custkey") % 10 =!= 7)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, lit("CHANGED")).otherwise(col("c_mktsegment")))
      .withColumn("c_acctbal",
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100).otherwise(col("c_acctbal")))
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("snap", lit("2024-01-02"))
    val cols = Seq("c_mktsegment", "c_acctbal")
    graft.streaming.StreamScd2.applyBatch(snap1, "c_custkey", cols, "snap", dim)
    graft.streaming.StreamScd2.applyBatch(snap2, "c_custkey", cols, "snap", dim)
    graft.streaming.StreamScd2.readLatest(s, dim).get
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal"), 2).as("c_acctbal"),
        col("valid_from"), coalesce(col("valid_to"), lit("")).as("valid_to"))
      .localCheckpoint(true)
  }

  /** R75: revenue-concentration (Pareto) report per market segment — the
    * top-decile customers' share of segment revenue, rank-defined via the
    * q75 percent-rank pattern, all integer cents/ppm. The "how 80/20 is
    * this segment" number next to R47's Gini profile. */
  def q144(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .join(Tables.load(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("c_custkey"))
      .agg(sum(round(col("o_totalprice") * 100)).cast("long").as("cents"))
    val ranked = Normalize.percentRankBp(rev, col("segment"), col("cents"))
    ranked.groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        sum("cents").as("total_cents"),
        sum(when(col("pr_bp") >= 9000, col("cents")).otherwise(0L)).as("top_decile_cents"))
      .select(col("segment"), col("n_customers"), col("total_cents"),
        col("top_decile_cents"),
        expr("CAST((1000000 * top_decile_cents) div total_cents AS BIGINT)").as("top_decile_ppm"))
  }

  /** R74: send-time optimization — each user's most active hour-of-day
    * (tie → earliest hour) with its activity share, through the C1
    * bounded-heap top-1: one map-side-combinable (user, hour) count,
    * no per-user sort. */
  def q142(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .where(col("ts").isNotNull)
      .select(col("user_id"), hour(col("ts")).cast("long").as("hh"))
      .groupBy("user_id", "hh").agg(count(lit(1)).as("n"))
    val tot = hourly.groupBy("user_id").agg(sum("n").as("__t"))
    TopK.topKPerKeyNative(hourly, Seq(col("user_id")),
        Seq(col("n").desc, col("hh").asc), 1)
      .join(tot, "user_id")
      .select(col("user_id"), col("hh").as("best_hour"), col("n").as("n_events"),
        expr("CAST((1000000 * n) div __t AS BIGINT)").as("share_ppm"))
  }

  /** R8 extension (the threshold dial): what-if blocklist sweep —
    * how many customers each candidate critical-status threshold 1..6
    * would block, from one log aggregation. */
  def q148(s: SparkSession, d: String): DataFrame =
    graft.operators.Blocklist.thresholdSweep(Tables.events(s, d),
      col("user_id"), col("event_type"), Seq("error"), maxThreshold = 6)

  /** R77: capacity-constrained wave scheduling — per-customer debt
    * totals ranked biggest-first (custkey tiebreak), cut into waves of
    * 500; the dialer-capacity complement of the R37 hour-slot pivot. */
  def q151(s: SparkSession, d: String): DataFrame = {
    val debts = Tables.orders(s, d).groupBy(col("o_custkey").as("cpf"))
      .agg(sum(round(col("o_totalprice") * 100)).cast("long").as("debt_cents"))
    Waves.assign(debts, Seq(col("debt_cents").desc, col("cpf").asc), capacity = 500L)
  }

  /** R27, oracle-keyed (VERDICT r12): the END-TO-END mailing pipeline —
    * blocklist → dedup → debt aggregates → top-4 contact enrichment →
    * flag → status filter → localization → layout → priority →
    * segmentation — BOTH segments, every stage live in one plan. The
    * oracle recomposes the whole chain as one CTE query, so the flagship
    * is hash-checked end to end, not just smoke-checked (`entry`) and
    * stage-by-stage (q02–q14). `Data_de_Importacao` (current_date) is the
    * one canonical column left out: a midnight boundary between the Spark
    * run and the DuckDB run would hash-mismatch on nothing. */
  def q153(s: SparkSession, d: String): DataFrame = {
    val r = graft.pipeline.MailingPipeline.full(s, d)
    r.human.unionByName(r.robot).select(
      col("CPF").as("cpf"), col("NOME_CLIENTE").as("nome_cliente"),
      col("PRODUTO").as("produto"),
      col("parcelasEmAtrado").as("parcelas"),
      col("LOCALIDADE").as("localidade"),
      col("valorDivida").as("valor_divida"),
      col("Cliente_Regulariza").as("cliente_regulariza"),
      col("CONTATO_01").as("contato_01"), col("CONTATO_02").as("contato_02"),
      col("CONTATO_03").as("contato_03"), col("CONTATO_04").as("contato_04"),
      col("priority_level"), col("segmento"))
  }

  /** R78: accounts-receivable aging report — open invoices (status O/P)
    * bucketed by days past due as of a fixed date, 30-day terms. */
  def q154(s: SparkSession, d: String): DataFrame =
    Aging.report(Tables.orders(s, d), col("o_custkey"), col("o_orderdate"),
      col("o_totalprice"), col("o_orderstatus"), Seq("O", "P"),
      asOf = "1996-01-01", termsDays = 30)

  /** R79: dunning next action — the aging ladder gated by the q137
    * contact policy (windowDays=7, maxInWindow=10, cooldown 24h). */
  def q155(s: SparkSession, d: String): DataFrame =
    Aging.dunningNextAction(Tables.orders(s, d), col("o_custkey"),
      col("o_orderdate"), col("o_totalprice"), col("o_orderstatus"),
      Seq("O", "P"), asOf = "1996-01-01", termsDays = 30,
      contacts = Tables.events(s, d), contactKeyCol = col("user_id"),
      contactTsCol = col("ts"), contactAsOf = "2024-01-25 00:00:00",
      windowDays = 7, maxInWindow = 10L, cooldownHours = 24L)

  /** R80: FIFO remittance matching — purchases applied to open invoices
    * oldest-first; per-invoice settlement (paid/outstanding/status). */
  def q157(s: SparkSession, d: String): DataFrame =
    Remittance.settlement(
      Tables.orders(s, d).where(col("o_orderstatus").isin("O", "P")),
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
      Tables.events(s, d).where(col("event_type") === "purchase"),
      col("user_id"), col("event_id"), col("ts"), col("value"))

  /** R81: Benford first-digit audit of invoice amounts per order
    * priority — fabricated-amounts fraud screen, integer ppm. */
  def q158(s: SparkSession, d: String): DataFrame =
    Benford.firstDigitAudit(Tables.orders(s, d),
      col("o_orderpriority"), col("o_totalprice"))

  /** R82: duplicate-payment screen — same payer, same whole-unit amount,
    * within 30 days of the prior identical posting (floor, not round:
    * exact cross-engine on positive 2-decimal data). */
  def q159(s: SparkSession, d: String): DataFrame =
    PaymentAudit.duplicatePayments(
      Tables.events(s, d).where(col("event_type") === "purchase"),
      col("user_id"), col("event_id"), col("ts"), floor(col("value")),
      windowHours = 720L)

  /** R81 verdict row: per-group Benford MAD in ppm vs the Nigrini
    * conformity cutoffs — the one-number screen verdict q158's 9 digit
    * rows drill into. The oracle re-derives the MAD independently
    * (its own dense-digit completion arithmetic). */
  def q160(s: SparkSession, d: String): DataFrame =
    Benford.conformityVerdict(Tables.orders(s, d),
      col("o_orderpriority"), col("o_totalprice"))

  /** The collections flagship (VERDICT r12 task 7): the reference
    * domain's FULL decision loop in ONE plan — R78 aging → R72 contact
    * policy → R79 dunning ladder (all inside q155's dunningNextAction)
    * → R77 capacity waves over the actionable debtors, priority =
    * (most past due, largest debt, key). Each stage is verified alone
    * (q154/q137/q155/q151); this row hash-checks their COMPOSITION, the
    * oracle recomposing the four proven subqueries. */
  def q161(s: SparkSession, d: String): DataFrame =
    Waves.assign(
      q155(s, d).where(!col("next_action").isin("NONE", "HOLD")),
      Seq(col("worst_days_past_due").desc, col("total_open_cents").desc,
        col("key").asc),
      capacity = 100L)

  /** R80's upstream collapse, oracle-keyed: net refunds/chargebacks into
    * prior postings (every 7th purchase becomes a whole-unit chargeback —
    * the q133-style deterministic corruption — so the envelope logic is
    * exercised on real dips, leading chargebacks AND trailing unrecovered
    * refunds included). The oracle re-derives the 0-floored SUFFIX-MIN
    * envelope increments via a forward-order suffix frame — a different
    * window formulation than the Spark side's reversed running min. */
  def q162(s: SparkSession, d: String): DataFrame = {
    val signed = when(col("event_id") % 7 === 0, -floor(col("value")))
      .otherwise(col("value"))
    Remittance.netAdjustments(
        Tables.events(s, d).where(col("event_type") === "purchase"),
        col("user_id"), col("event_id"), col("ts"), signed)
      .select(col("key"), col("id"), col("net_cents"))
  }

  /** R80 flagship composition (round-14: the ADVICE failure scenario made
    * a pinned row): net refunds/chargebacks into prior postings
    * ([[Remittance.netAdjustments]], suffix-min envelope), then apply the
    * netted cash FIFO against the open invoices and report settlement —
    * one plan, q162's netting feeding q157's merge-sweep. The oracle
    * recomposes the two proven SQL derivations; the netted cumulative IS
    * the envelope, so `pay_hi = env` — a clawed-back posting can never
    * mark an invoice PAID (the round-13 running-max bug's exact blast
    * radius, now hash-pinned). Zero-net rows become zero-width intervals
    * and allocate nothing. */
  def q163(s: SparkSession, d: String): DataFrame = {
    val signed = when(col("event_id") % 7 === 0, -floor(col("value")))
      .otherwise(col("value"))
    val netted = Remittance.netAdjustments(
      Tables.events(s, d).where(col("event_type") === "purchase"),
      col("user_id"), col("event_id"), col("ts"), signed)
    Remittance.settlement(
      Tables.orders(s, d).where(col("o_orderstatus").isin("O", "P")),
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
      netted, col("key"), col("id"), col("ts"), col("net_amount"))
  }

  /** R73: RFM quintile segmentation of customers from their orders,
    * as of a fixed instant. */
  def q141(s: SparkSession, d: String): DataFrame =
    Rfm.segment(Tables.orders(s, d), col("o_custkey"), col("o_orderdate"),
      col("o_totalprice"), asOf = "2025-01-01")

  /** R19 extension (document audit): synthesize a CPF per customer from
    * the zero-padded custkey (every 5th corrupted by a last-digit flip),
    * validate with the mod-11 column algebra, report per-segment
    * validity — the oracle re-derives the check digits independently. */
  def q138(s: SparkSession, d: String): DataFrame = {
    val base = lpad(pmod(col("c_custkey"), lit(1000000000L)).cast("string"), 9, "0")
    val doc0 = BrFormats.cpfFromBase(base)
    val doc = when(pmod(col("c_custkey"), lit(5)) === 0,
      concat(substring(doc0, 1, 10),
        pmod(substring(doc0, 11, 1).cast("int") + 1, lit(10)).cast("string")))
      .otherwise(doc0)
    // Materialization barrier between synthesis and validation: the
    // validator references `doc` ~20 times and CollapseProject would
    // inline the (itself deeply nested) generator expression into every
    // reference — a multiplicative expression blowup that benched 17 s
    // on a 15k-row table. Validating against a STORED string column is
    // the realistic shape anyway (documents arrive as data).
    val synth = Tables.load(s, d, "customer")
      .select(col("c_mktsegment").as("segment"), doc.as("doc"))
      .localCheckpoint(true)
    synth
      .select(col("segment"),
        when(BrFormats.cpfValid(col("doc")), 1L).otherwise(0L).as("ok"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"), sum("ok").as("n_valid"),
        (count(lit(1)) - sum("ok")).as("n_invalid"),
        expr("CAST((1000000 * sum(ok)) div count(1) AS BIGINT)").as("valid_ppm"))
  }

  /** R72: contact-policy eligibility as of a fixed instant — ≤16 contacts
    * in the trailing 7 days AND ≥12h cooldown; the customer population
    * beyond the active user range is never-contacted (eligible). */
  def q137(s: SparkSession, d: String): DataFrame =
    ContactPolicy.eligibility(
      Tables.load(s, d, "customer"), col("c_custkey"),
      Tables.events(s, d), col("user_id"), col("ts"),
      asOf = "2024-01-25 00:00:00", windowDays = 7,
      maxInWindow = 16L, cooldownHours = 12L)

  /** R71: fulfillment-SLA report — per order-priority EXACT p50/p90 of
    * days from order to last ship (clamped non-negative — the synthetic
    * data ships some orders early), via the bounded-domain exact
    * percentile readout. */
  def q136(s: SparkSession, d: String): DataFrame = {
    val days = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      .agg(max(col("l_shipdate")).as("last_ship"))
      .select(col("o_orderpriority").as("prio"),
        greatest(lit(0L), datediff(to_date(col("last_ship")),
          to_date(col("o_orderdate"))).cast("long")).as("v"))
    QuantileSketch.exactGroupQuantiles(days, col("prio"), col("v"), Seq(50, 90))
      .select(col("grp").as("priority"), col("n").as("n_orders"),
        col("p50_est").as("p50_days"), col("p90_est").as("p90_days"))
  }

  /** R70: three-system quorum reconciliation over orders — two derived
    * replicas carry deterministic corruptions (every 10th order's status
    * flipped in one system, every 7th order's priority nulled in
    * another); majority vote recovers truth and flags the disputes. */
  def q133(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    val crm = base
    val billing = base.withColumn("o_orderstatus",
      when(pmod(col("o_orderkey"), lit(10)) === 0,
        when(col("o_orderstatus") === "F", "O").otherwise("F"))
        .otherwise(col("o_orderstatus")))
    val wh = base.withColumn("o_orderpriority",
      when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null).cast("string"))
        .otherwise(col("o_orderpriority")))
    Reconcile.quorum(
      Seq("crm" -> crm, "billing" -> billing, "wh" -> wh),
      "o_orderkey", Seq("o_orderstatus", "o_orderpriority"))
  }

  /** R69: Theil-Sen robust trend per event type — lower-median of all
    * pairwise daily-count slopes, ppm/day. */
  def q131(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("event_type").as("g"), to_date(col("ts")).as("dd"))
      .groupBy("g", "dd").agg(count(lit(1)).as("n"))
    Trend.theilSen(daily, col("g"), col("dd"), col("n"))
  }

  /** R66: orders-in-flight sweep line — daily active count of
    * [orderdate, last shipdate] intervals (clamped non-negative: the
    * synthetic data ships some orders before their order date). */
  def q127(s: SparkSession, d: String): DataFrame = {
    val ship = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("ship_end"))
    val iv = Tables.orders(s, d)
      .join(ship, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderdate").as("st"),
        greatest(col("ship_end"), col("o_orderdate")).as("en"))
    Intervals.dailyConcurrency(iv, col("st"), col("en"))
  }

  /** R67: day-of-week seasonal index per event type — weekday daily mean
    * vs overall daily mean, ppm. */
  def q128(s: SparkSession, d: String): DataFrame =
    Seasonal.dowProfile(Tables.events(s, d), col("event_type"), col("ts"))

  /** R68: two-proportion experiment readout — users split by id parity,
    * success = reached a purchase event; exact integer z². */
  def q129(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d).groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("ok"))
      .withColumn("v", pmod(col("user_id"), lit(2L)))
    AbTest.twoProportionZ(users, col("v"), col("ok"))
  }

  /** R65: brand-level association rules over order baskets — Apriori
    * frequent-item prune, in-row pair expansion, integer ppm conf/lift. */
  def q124(s: SparkSession, d: String): DataFrame = {
    val bi = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("bk"), col("p_brand").as("item"))
    Basket.associationRules(bi, col("bk"), col("item"),
      minSupport = 1000L, minPairSupport = 150L)
  }

  /** R64: one-sided CUSUM changepoint flags on daily event counts per
    * type — closed-form windows (cumsum − running min), integer-exact;
    * alarm at 3 mean-days of cumulative excess. */
  def q123(s: SparkSession, d: String): DataFrame =
    Changepoints.dailyCountCusum(Tables.events(s, d),
      col("event_type"), col("ts"), mult = 3L)

  /** R63: functional-dependency discovery over `orders` — one holding
    * dependency (orderkey is a key) and two violated ones. */
  def q122(s: SparkSession, d: String): DataFrame =
    Profiler.fdProfile(Tables.load(s, d, "orders"), Seq(
      "o_orderkey" -> "o_custkey",
      "o_custkey" -> "o_orderstatus",
      "o_orderpriority" -> "o_orderstatus"))

  /** R62: row-level quarantine routing — every `orders` row failing any
    * row-expressible check from q104's suite, tagged with WHICH checks it
    * failed (the side-output a release reviewer actually reads). */
  def q120(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Expectations._
    rowViolations(Tables.load(s, d, "orders"), Seq(
      Complete("o_custkey"),
      InRangePct("o_totalprice", 1000.0, 400000.0, 750000L),
      InSetPct("o_orderstatus", Seq("F", "O"), 1000000L),
      MatchesPct("o_orderpriority", "^[1-5]-[A-Z ]+$", 1000000L)))
      .where(size(col("violations")) > 0)
      .select(col("o_orderkey"),
        array_join(col("violations"), ",").as("violations_csv"),
        size(col("violations")).cast("long").as("n_violations"))
  }

  /** R60: privacy-aware release of per-(type, day) event value sums —
    * each user contributes at most 3 rows per cell (kept by event_id
    * order), cells with fewer than 5 distinct users suppressed. */
  def q116(s: SparkSession, d: String): DataFrame =
    Privacy.releaseAggregates(Tables.events(s, d),
      groupCols = Seq(col("event_type").as("grp"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("day")),
      entityCol = col("user_id"), tieCol = col("event_id"),
      valueCol = round(col("value") * 100).cast("long"),
      maxPerEntity = 3, kEntities = 5)
      .withColumnRenamed("sum_v", "sum_cents")

  /** R61: cardinality forecast for events ⋈ orders on user/cust key —
    * per-key pair counts, computed without executing the join. */
  def q117(s: SparkSession, d: String): DataFrame =
    JoinStats.keyStats(Tables.events(s, d), col("user_id"),
      Tables.load(s, d, "orders"), col("o_custkey"))

  /** R59: linear interpolation of each user's purchase-value series at
    * their view timestamps (all-integer micros/cents arithmetic). */
  def q115(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val probes = ev.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pt"))
    val points = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("puid"), unix_micros(col("ts")).as("qt"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.operators.AsOfJoin.interpolate(probes, col("user_id"), col("pt"),
        points, col("puid"), col("qt"), col("cents"))
      .select("event_id", "user_id", "t", "prev_t", "prev_v",
        "next_t", "next_v", "interp")
  }

  /** R58: distribution drift — L1 ppm distance between the even- and
    * odd-event-id halves of each event type's value distribution
    * (deterministic split standing in for reference-vs-current). */
  def q114(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    def half(parity: Int) = graft.operators.Drift.binned(
      ev.where(col("event_id") % 2 === parity),
      col("event_type"), col("cents"), lo = 0L, hi = 100000L, bins = 20)
    graft.operators.Drift.l1Drift(half(0), half(1))
  }

  /** R56: frequent 3-step event-type paths across user streams. */
  def q111(s: SparkSession, d: String): DataFrame =
    graft.operators.Sequences.frequentPaths(Tables.events(s, d),
      col("user_id"), col("ts"), col("event_id"), col("event_type"),
      k = 3, minSupport = 5L)

  /** R57: per-type daily counts with calendar gaps zero-filled plus a
    * running cumulative. */
  def q112(s: SparkSession, d: String): DataFrame =
    graft.operators.Sequences.fillDailyGaps(Tables.events(s, d),
      col("event_type"), col("ts"))

  /** R55: Pareto skyline of parts — biggest size for the least price
    * (price negated to fold minimize into maximize-all semantics). */
  def q110(s: SparkSession, d: String): DataFrame =
    graft.operators.Skyline.paretoFront(
      Tables.load(s, d, "part").select(col("p_partkey"),
        col("p_size").cast("long").as("sz"),
        (-round(col("p_retailprice") * 100)).cast("long").as("neg_cents")),
      Seq("sz", "neg_cents"))

  /** R54: declarative data-quality expectation suite over `orders`,
    * evaluated in one aggregation pass — includes a deliberately failing
    * domain check (status 'P' exists) so false verdicts are exercised. */
  def q104(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Expectations._
    check(Tables.load(s, d, "orders"), Seq(
      Complete("o_custkey"),
      Distinctness("o_orderkey"),
      InRangePct("o_totalprice", 1000.0, 400000.0, 750000L),
      InSetPct("o_orderstatus", Seq("F", "O"), 1000000L),
      MatchesPct("o_orderpriority", "^[1-5]-[A-Z ]+$", 1000000L),
      MinRows(1000L)))
  }

  /** R52: robust per-group outlier flags — median/MAD over integer cents
    * per event type, |v − med| > 3·MAD, all statistics doubled so the
    * interpolated median's .5 stays exact BIGINT math cross-engine. */
  def q97(s: SparkSession, d: String): DataFrame =
    graft.operators.Outliers.robustFlags(Tables.events(s, d),
        col("event_id"), col("event_type"), round(col("value") * 100).cast("long"), k = 3)
      .withColumnRenamed("id", "event_id").withColumnRenamed("grp", "event_type")

  /** R53: marketing-touch attribution — each purchase credited to its
    * in-window (3-day lookback) view/click touches via the one-sided banded
    * range join; last/first touch as single struct-max aggregations. */
  def q99(s: SparkSession, d: String): DataFrame = {
    val pairs = graft.operators.Attribution.touchPairs(Tables.events(s, d),
      col("event_id"), col("user_id"), col("ts"), col("event_type"),
      round(col("value") * 100).cast("long"),
      conversionType = "purchase", touchTypes = Seq("view", "click"),
      lookbackUs = 3L * 86400L * 1000000L)
    graft.operators.Attribution.firstLastTouch(pairs)
      .withColumnRenamed("user", "user_id")
  }

  /** Laudo-style per-column value listing (SURVEY §2a R38): top-5 most
    * frequent values of each audited column, one unpivot pass + one
    * aggregation + bounded top-k per column ([[Audit.topColumnValues]]). */
  def q54(s: SparkSession, d: String): DataFrame =
    Audit.topColumnValues(Tables.customer(s, d),
      Seq("c_mktsegment", "c_nationkey", "c_name"), k = 5)

  /** Rollup: revenue subtotals at (nation, segment), (nation), and grand
    * total in ONE aggregation pass (Expand + single shuffle, not three
    * scans). Null grouping keys mark the subtotal rows on both engines. */
  def q50(s: SparkSession, d: String): DataFrame = {
    // SQL form: Dataset.rollup over joined inputs trips Spark 4.1's
    // ambiguous-self-join detector (Expand re-creates the grouping attrs);
    // GROUP BY ROLLUP through the parser resolves cleanly and exercises the
    // SQL surface.
    Tables.customer(s, d).createOrReplaceTempView("v_customer")
    Tables.orders(s, d).createOrReplaceTempView("v_orders")
    Tables.nation(s, d).createOrReplaceTempView("v_nation")
    s.sql(
      """SELECT n_name, c_mktsegment, count(1) AS n_orders,
        |       round(sum(o_totalprice), 2) AS total
        |FROM v_customer JOIN v_orders ON c_custkey = o_custkey
        |                JOIN v_nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)""".stripMargin)
  }

  /** Set ops: event users with no orders (EXCEPT), and users present in
    * both (INTERSECT), labeled and unioned. */
  def q51(s: SparkSession, d: String): DataFrame = {
    val eventUsers = Tables.events(s, d).select(col("user_id").as("id")).distinct()
    val orderUsers = Tables.orders(s, d).select(col("o_custkey").as("id")).distinct()
    eventUsers.except(orderUsers).withColumn("tag", lit("events_only"))
      .unionByName(eventUsers.intersect(orderUsers).withColumn("tag", lit("both")))
  }

  /** Day-over-day event-count deltas per type: aggregate then lag — the
    * window runs over the small aggregated frame, not the events. */
  def q49(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("dia")
    Tables.events(s, d)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("dia"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("dia"), col("n"),
        (col("n") - coalesce(lag("n", 1).over(w), lit(0L))).as("delta"))
  }

  /** Fixed-width histogram of order totals: one narrow pass, the bucket id
    * is pure arithmetic so partial aggregation combines map-side. */
  def q47(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select((floor(col("o_totalprice") / 25000).cast("long") * 25000).as("bucket_lo"))
      .groupBy("bucket_lo").agg(count(lit(1)).as("n"))

  /** Per-customer running order total in date order (cumulative window with
    * a deterministic orderkey tiebreak) — the classic frame-bounded window. */
  def q48(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"),
      round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
  }

  /** Skew-salted join, oracle-checked: salting redistributes the shuffle
    * but CANNOT change the result rows, so a plain SQL join verifies it. */
  def q43(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    Skew.saltedJoin(o, c, col("o_custkey"), col("c_custkey"), col("o_orderkey"), 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
  }

  /** Banded range join (self): pairs of a user's events within one hour of
    * each other — the burst-detection interval join, banded so it never
    * degenerates into a per-user cross product. */
  def q40(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts) DIV 1000000").as("sec"))
    val evB = ev.select(col("event_id").as("id_b"), col("user_id").as("uid_b"),
      col("sec").as("sec_b"))
    graft.operators.RangeJoin.withinRange(ev, col("user_id"), col("sec"),
        evB, col("uid_b"), col("sec_b"), width = 3600L)
      .filter(col("event_id") < col("id_b"))
      .select(col("event_id").as("id_a"), col("id_b"), col("user_id"),
        abs(col("sec") - col("sec_b")).as("gap_s"))
  }

  /** As-of join: each event picks up the customer's most recent order on or
    * before the event date (right side pre-aggregated to one row per
    * (customer, date) for determinism; nulls coalesced for the gate). */
  def q39(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
    val ord = Tables.orders(s, d)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("okey"))
    graft.operators.AsOfJoin.asOf(ev, col("user_id"), col("d"),
        ord, col("o_custkey"), col("o_orderdate"))
      .select(col("event_id"), col("user_id"),
        date_format(col("d"), "yyyy-MM-dd").as("event_date"),
        coalesce(col("__asof.okey"), lit(-1L)).as("last_order"),
        coalesce(date_format(col("__asof.o_orderdate"), "yyyy-MM-dd"), lit("none")).as("order_date"))
  }

  /** R28 forward variant: each event's NEXT order (smallest o_orderdate ≥
    * event date) within a 30-day tolerance — merge_asof(direction=forward,
    * tolerance) parity through the same one-shuffle tagged-union plan;
    * out-of-tolerance matches null out, the event row survives. */
  def q60(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
    val ord = Tables.orders(s, d)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("okey"))
    graft.operators.AsOfJoin.asOf(ev, col("user_id"), col("d"),
        ord, col("o_custkey"), col("o_orderdate"),
        direction = "forward", tolerance = Some(expr("INTERVAL 30 DAYS")))
      .select(col("event_id"), col("user_id"),
        date_format(col("d"), "yyyy-MM-dd").as("event_date"),
        coalesce(col("__asof.okey"), lit(-1L)).as("next_order"),
        coalesce(date_format(col("__asof.o_orderdate"), "yyyy-MM-dd"), lit("none")).as("order_date"))
  }

  /** R28 nearest variant: each event's CLOSEST order date in either
    * direction (equidistant → backward, pandas' tie rule) — completes
    * merge_asof direction parity. Same one-Exchange tagged-union plan,
    * two per-partition sorts. */
  def q77(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
    val ord = Tables.orders(s, d)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("okey"))
    graft.operators.AsOfJoin.asOf(ev, col("user_id"), col("d"),
        ord, col("o_custkey"), col("o_orderdate"), direction = "nearest")
      .select(col("event_id"), col("user_id"),
        date_format(col("d"), "yyyy-MM-dd").as("event_date"),
        coalesce(col("__asof.okey"), lit(-1L)).as("near_order"),
        coalesce(date_format(col("__asof.o_orderdate"), "yyyy-MM-dd"), lit("none")).as("order_date"))
  }

  /** R41: weekly cohort retention triangle — first-active-week cohorts ×
    * week offset, distinct-user counts via the set-explode two-shuffle
    * plan (no joins, no count_distinct). */
  def q65(s: SparkSession, d: String): DataFrame =
    graft.operators.Retention.cohortRetention(
      Tables.events(s, d), col("user_id"), col("ts"))

  /** R47: category-concentration (Gini impurity) profile — the partition-
    * key skew early warning, pure integer arithmetic, one unpivot pass. */
  def q73(s: SparkSession, d: String): DataFrame =
    graft.operators.Profiler.categoryConcentration(
      Tables.customer(s, d), Seq("c_mktsegment", "c_nationkey"))

  /** R48: incremental aggregate maintenance — fold the retraction stream
    * between q69's two snapshots into the OLD snapshot's per-segment
    * (count, sum) state; the oracle RECOMPUTES the aggregate from the new
    * snapshot directly, so a hash match proves incremental == recompute
    * cross-engine (including rows that migrated segments). */
  def q86(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val oldSnap = c.filter(col("c_custkey") % 10 =!= 3)
    val newSnap = c.filter(col("c_custkey") % 10 =!= 7)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, lit("CHANGED")).otherwise(col("c_mktsegment")))
      .withColumn("c_acctbal",
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100).otherwise(col("c_acctbal")))
    val state = graft.operators.Aggregates.aggState(
      oldSnap, col("c_mktsegment"), Seq("c_acctbal"))
    val delta = graft.operators.SnapshotDiff.retractions(
      oldSnap, newSnap, "c_custkey", Seq("c_mktsegment", "c_acctbal"))
    graft.operators.Aggregates.applyRetractions(
        state, delta, col("c_mktsegment"), Seq("c_acctbal"))
      .select(col("group").as("c_mktsegment"), col("n_rows"),
        round(col("sum_c_acctbal"), 2).as("sum_bal"))
  }

  /** R49: order-independent table fingerprint — cross-engine equality via
    * md5-digit row hashes reduced by modular sum + xor; the oracle computes
    * the identical fingerprint in DuckDB, so the hash match IS the
    * demonstration (two engines, one fingerprint). */
  def q87(s: SparkSession, d: String): DataFrame =
    graft.operators.Profiler.tableFingerprint(Tables.customer(s, d),
      Seq("c_custkey", "c_name", "c_mktsegment"))

  /** R45: snapshot CDC — two deterministic derivations of `customer` play
    * yesterday's and today's full drops; diff = one full outer join +
    * narrow change classification. */
  def q69(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val oldSnap = c.filter(col("c_custkey") % 10 =!= 3)
    val newSnap = c.filter(col("c_custkey") % 10 =!= 7)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, lit("CHANGED")).otherwise(col("c_mktsegment")))
      .withColumn("c_acctbal",
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100).otherwise(col("c_acctbal")))
    graft.operators.SnapshotDiff.diff(oldSnap, newSnap, "c_custkey",
        Seq("c_mktsegment", "c_acctbal"))
      .withColumn("c_acctbal", round(col("c_acctbal"), 2))
  }

  /** R45b: SCD2 merge-apply — q69's two snapshot days folded into a
    * versioned dimension: day-1 seeds open rows, day-2's diff closes
    * changed/removed versions and inserts the new ones. valid_to='' marks
    * open rows (string, not DATE — oracle-hash-stable). */
  def q78(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val oldSnap = c.filter(col("c_custkey") % 10 =!= 3)
    val newSnap = c.filter(col("c_custkey") % 10 =!= 7)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, lit("CHANGED")).otherwise(col("c_mktsegment")))
      .withColumn("c_acctbal",
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100).otherwise(col("c_acctbal")))
    val dim0 = oldSnap.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("valid_from", lit("2024-01-01"))
      .withColumn("valid_to", lit(null).cast("string"))
    val changes = graft.operators.SnapshotDiff.diff(oldSnap, newSnap, "c_custkey",
      Seq("c_mktsegment", "c_acctbal"))
    graft.operators.SnapshotDiff.applyScd2(dim0, changes, "c_custkey",
        Seq("c_mktsegment", "c_acctbal"), lit("2024-01-02"))
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal"), 2).as("c_acctbal"),
        col("valid_from"), coalesce(col("valid_to"), lit("")).as("valid_to"))
  }

  /** R50: fact-to-SCD2 temporal join — orders pick the dimension version
    * valid at their own probe timestamp (even keys probe day 1, odd keys
    * day 3); facts with no valid version keep blanks (left join). One
    * key equi-join with the validity window as residual predicate. */
  def q89(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val oldSnap = c.filter(col("c_custkey") % 10 =!= 3)
    val newSnap = c.filter(col("c_custkey") % 10 =!= 7)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, lit("CHANGED")).otherwise(col("c_mktsegment")))
    val dim0 = oldSnap.select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("valid_from", lit("2024-01-01"))
      .withColumn("valid_to", lit(null).cast("string"))
    val changes = graft.operators.SnapshotDiff.diff(oldSnap, newSnap,
      "c_custkey", Seq("c_mktsegment"))
    val dim = graft.operators.SnapshotDiff.applyScd2(dim0, changes,
      "c_custkey", Seq("c_mktsegment"), lit("2024-01-02"))
    val facts = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_custkey").as("c_custkey"),
      when(col("o_orderkey") % 2 === 0, lit("2024-01-01"))
        .otherwise(lit("2024-01-03")).as("probe_ts"))
    graft.operators.SnapshotDiff.temporalJoin(facts, dim, "c_custkey", col("probe_ts"))
      .select(col("o_orderkey"), col("c_custkey"), col("probe_ts"),
        coalesce(col("c_mktsegment"), lit("")).as("seg_at_ts"),
        coalesce(col("valid_from"), lit("")).as("dim_valid_from"))
  }

  /** R46a: wide→long melt (native unpivot, narrow one-pass). */
  def q70(s: SparkSession, d: String): DataFrame =
    graft.operators.Reshape.melt(Tables.part(s, d),
      idCols = Seq("p_partkey"), meltCols = Seq("p_size", "p_retailprice"))

  /** R46b: long→wide pivot with a FIXED value domain — per-user revenue by
    * event type in one groupBy (no value-discovery job), integer cents. */
  def q71(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    graft.operators.Reshape.pivotWide(Tables.events(s, d).filter(col("user_id").isNotNull),
        Seq("user_id"), col("event_type"), col("value"), types)
      .select(col("user_id") +: types.map(t =>
        floor(col(t) * 100 + lit(0.50001)).cast("long").as(s"${t}_cents")): _*)
  }

  /** R42: user-journey transition matrix — adjacent event-type pairs per
    * user, one lead-window shuffle, |types|²-row output. */
  def q66(s: SparkSession, d: String): DataFrame =
    graft.operators.Transitions.transitionCounts(Tables.events(s, d),
      col("user_id"), Seq(col("ts"), col("event_id")), col("event_type"))

  /** R43: trailing-7-day rolling revenue per event type — daily integer-cent
    * pre-aggregation, RANGE frame over day offsets (gaps age out). */
  def q67(s: SparkSession, d: String): DataFrame =
    graft.operators.Rolling.rollingDailyCents(Tables.events(s, d),
      Seq(col("event_type")), col("ts"), col("value"), days = 7)

  /** R44: exact equi-depth deciles of order value per order status
    * (deterministic tiebreak on the key; the approx-sketch scale path is
    * spec-covered). */
  def q68(s: SparkSession, d: String): DataFrame =
    graft.operators.EquiDepth.depthBuckets(Tables.orders(s, d),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"), n = 10)
      .withColumn("bucket", col("bucket").cast("long"))

  /** R40: strict ordered conversion funnel view → click → purchase per
    * user — earliest qualifying chain, single-shuffle sorted fold (the
    * oracle is the k-aggregation join chain; results proved equal). */
  def q64(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.funnelTimes(Tables.events(s, d),
        col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase"))
      .withColumnRenamed("key", "user_id")

  /** Per-type event stats: JSON property extraction + exact interpolated
    * percentiles, quantized (`floor(x·10³)`) so the interpolation result
    * compares bit-stably across engines (both use rank = p·(n−1) linear
    * interpolation over identical doubles). */
  def q38(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        floor(expr("percentile(value, 0.5)") * 1000 + 0.50001).cast("long").as("median_q"),
        floor(expr("percentile(value, 0.9)") * 1000 + 0.50001).cast("long").as("p90_q"),
        sum("k").as("sum_k"))

  /** R10: per-key totals as per-row columns (window sum — one shuffle). */
  def q02(s: SparkSession, d: String): DataFrame =
    Aggregates.withPerKeyTotals(Tables.orders(s, d), col("o_custkey"), col("o_totalprice"))
      .select("o_orderkey", "o_custkey", "valor_divida", "qtd_faturas")

  /** R9: keyed dedup keeping best row (highest value, deterministic tiebreak). */
  def q03(s: SparkSession, d: String): DataFrame =
    Dedup.bestRowPerKey(Tables.orders(s, d),
        Seq(col("o_custkey")), Seq(col("o_totalprice").desc, col("o_orderkey").asc))
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"), col("o_orderstatus"))

  /** R8: count-threshold blocklist anti-join (blocklist side broadcast). */
  def q04(s: SparkSession, d: String): DataFrame =
    Blocklist.removeByStatusThreshold(
        Tables.customer(s, d), col("c_custkey"),
        Tables.events(s, d), col("user_id"), col("event_type"),
        criticalStatuses = Seq("error"), threshold = 3)
      .select("c_custkey", "c_name", "c_mktsegment")

  /** R12: ranked enrichment → top-4 wide columns per key. */
  def q05(s: SparkSession, d: String): DataFrame =
    TopK.topKWide(Tables.orders(s, d), col("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 4,
        Seq("valor" -> round(col("o_totalprice"), 2), "fatura" -> col("o_orderkey")),
        keyName = "cpf")

  /** R16: multi-column priority CASE chain. */
  def q06(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"),
      Prioritize.priorityLevel(
        Seq(col("o_orderpriority"), col("o_orderstatus")),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM")).as("priority_level"))

  /** R13+R17: per-client debt, conditional flag, threshold segmentation. */
  def q07(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey").as("cpf"))
      .agg(
        round(sum("o_totalprice"), 2).as("valor_divida"),
        date_format(max("o_orderdate"), "yyyy-MM-dd").as("ultima_fatura"))
      .select(
        col("cpf"), col("valor_divida"), col("ultima_fatura"),
        when(col("ultima_fatura") < "1997-06-01", lit("SIM")).otherwise(lit(NAO)).as("cliente_regulariza"),
        Segmentation.segmentLabel(col("valor_divida"), 1500000.0).as("segmento"))

  /** R18: robot master — 3 earliest invoices pivoted wide with BR formats. */
  def q08(s: SparkSession, d: String): DataFrame =
    TopK.topKWide(Tables.orders(s, d), col("o_custkey"),
        Seq(col("o_orderdate").asc, col("o_orderkey").asc), k = 3,
        Seq(
          "dt" -> BrFormats.brDate(col("o_orderdate")),
          "valor" -> BrFormats.brMoney(col("o_totalprice")),
          "codbarra" -> col("o_orderkey")),
        keyName = "cpf")

  /** R5+R19: BR money/date formatting and parse round-trips. */
  def q09(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      BrFormats.brMoney(col("o_totalprice")).as("valor_br"),
      BrFormats.brMoneyCompact(col("o_totalprice")).as("valor_robo"),
      BrFormats.brMoneyCompact(floor(col("o_totalprice"))).as("valor_robo_int"),
      BrFormats.brDate(col("o_orderdate")).as("data_br"),
      round(BrFormats.parseCommaDecimal(BrFormats.brMoney(col("o_totalprice"))), 2).as("valor_roundtrip"),
      date_format(BrFormats.parseBrDate(BrFormats.brDate(col("o_orderdate"))), "yyyy-MM-dd").as("data_roundtrip"),
      date_format(BrFormats.parseBrDate(lit("99/99/2024")), "yyyy-MM-dd").as("data_invalida"))

  /** R4+R6+R7+R22: string cleaning family. */
  def q10(s: SparkSession, d: String): DataFrame = {
    val pre = when(col("c_mktsegment") === "BUILDING", lit("nan")).otherwise(col("c_mktsegment"))
    Tables.customer(s, d).select(
      col("c_custkey"),
      TextClean.digitsOnly(col("c_name")).as("digits"),
      TextClean.stripDotZero(concat(col("c_custkey").cast("string"), lit(".0"))).as("id_clean"),
      TextClean.nanToNull(pre).as("seg_clean"),
      TextClean.fixMojibake(concat(lit("AtÃ© "), col("c_mktsegment"), lit(" NÃƒO"))).as("fixed"))
  }

  /** S1 batch analog: per-user daily event rollup. */
  def q11(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("dia"), col("event_type"))
      .agg(count(lit(1)).as("qtd"), round(sum("value"), 2).as("soma_valor"))

  /** R11: sorted distinct values joined per key + distinct count. */
  def q12(s: SparkSession, d: String): DataFrame =
    Aggregates.distinctJoined(Tables.orders(s, d).withColumnRenamed("o_custkey", "cpf"),
      col("cpf"), col("o_orderstatus"))

  /** R14: status-set filter (kept side of filterWithRejects). */
  def q13(s: SparkSession, d: String): DataFrame =
    Blocklist.filterWithRejects(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus"),
        col("o_orderstatus"), Set("p"))._1

  /** R21: most-complete-row dedup with synthesized nulls. */
  def q14(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(
      col("c_nationkey"), col("c_custkey"),
      nullif(col("c_mktsegment"), lit("BUILDING")).as("seg2"),
      when(col("c_acctbal") < 0, lit(null).cast("double")).otherwise(round(col("c_acctbal"), 2)).as("bal2"))
    Dedup.mostCompleteRowPerKey(c, Seq(col("c_nationkey")),
      Seq(col("seg2"), col("bal2")), Seq(col("c_custkey").desc))
  }

  /** R26: column profiling (distinct/null counts, one-row summary). */
  def q15(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).agg(
      count(lit(1)).as("n_rows"),
      count_distinct(col("o_custkey")).as("d_cust"),
      count_distinct(col("o_orderstatus")).as("d_status"),
      count_distinct(col("o_orderpriority")).as("d_prio"),
      round(min("o_totalprice"), 2).as("min_total"),
      round(max("o_totalprice"), 2).as("max_total"))

  /** S2 batch analog: lag-gap sessionization (30-minute gap). */
  def q16(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts")
    Tables.events(s, d)
      .withColumn("__prev", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("__new_sess",
        when(col("__prev").isNull || unix_micros(col("ts")) - col("__prev") > 1800L * 1000000L, 1).otherwise(0))
      .groupBy("user_id")
      .agg(sum("__new_sess").as("qtd_sessoes"), count(lit(1)).as("qtd_eventos"))
  }

  /** Multi-way join: per-order revenue for one segment's open orders
    * (TPC-H Q3 shape) — customer dim broadcasts into the orders⋈lineitem
    * fact join; filters push to every scan. */
  def q27(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
    broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("data_pedido"))
      // integer cents via floor: Spark's round() diverges from binary-value
      // rounding engines on boundary sums (e.g. x.xx4999…97) — see q22
      .agg(floor(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) * 100 + 0.50001).cast("long").as("revenue_cents"))
  }

  /** Star join: revenue per nation for one region (TPC-H Q5 shape) —
    * region→nation→customer dims collapse to one broadcast, single fact
    * shuffle for the aggregation. */
  def q28(s: SparkSession, d: String): DataFrame = {
    val dims = Tables.nation(s, d)
      .join(Tables.load(s, d, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "n_name")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
    broadcast(dims).join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy("n_name")
      .agg(floor(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) * 100 + 0.50001).cast("long").as("revenue_cents"),
        count(lit(1)).as("n_items"))
  }

  /** CPF mod-11 weighted sum over the first n digits of `c` (SQL text). */
  private def cpfSum(c: String, n: Int): String =
    (1 to n).map(i => s"CAST(substr($c,$i,1) AS INT)*${n + 2 - i}").mkString(" + ")

  /** q138: the oracle derives AND re-verifies the check digits with its
    * own unrolled arithmetic — an engine-independent check of the
    * BrFormats column algebra. */
  private val cpfAuditOracle =
    s"""WITH c0 AS (SELECT c_mktsegment AS segment, c_custkey,
       |              lpad(CAST(c_custkey % 1000000000 AS VARCHAR), 9, '0') AS b
       |            FROM customer),
       |g1 AS (SELECT *, ((${cpfSum("b", 9)}) * 10) % 11 AS r1 FROM c0),
       |g2 AS (SELECT *, b || CAST(CASE WHEN r1 = 10 THEN 0 ELSE r1 END AS VARCHAR) AS b10 FROM g1),
       |g3 AS (SELECT *, ((${cpfSum("b10", 10)}) * 10) % 11 AS r2 FROM g2),
       |g4 AS (SELECT segment, c_custkey,
       |         b10 || CAST(CASE WHEN r2 = 10 THEN 0 ELSE r2 END AS VARCHAR) AS doc0 FROM g3),
       |g5 AS (SELECT segment,
       |         CASE WHEN c_custkey % 5 = 0
       |           THEN substr(doc0, 1, 10) ||
       |                CAST((CAST(substr(doc0, 11, 1) AS INT) + 1) % 10 AS VARCHAR)
       |           ELSE doc0 END AS doc FROM g4),
       |g6 AS (SELECT segment, doc,
       |         ((${cpfSum("doc", 9)}) * 10) % 11 AS rr1,
       |         ((${cpfSum("doc", 10)}) * 10) % 11 AS rr2 FROM g5),
       |g7 AS (SELECT segment,
       |         CASE WHEN length(doc) = 11 AND doc <> repeat(substr(doc, 1, 1), 11)
       |           AND CAST(substr(doc, 10, 1) AS INT) = (CASE WHEN rr1 = 10 THEN 0 ELSE rr1 END)
       |           AND CAST(substr(doc, 11, 1) AS INT) = (CASE WHEN rr2 = 10 THEN 0 ELSE rr2 END)
       |         THEN 1 ELSE 0 END AS ok FROM g6)
       |SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
       |       CAST(sum(ok) AS BIGINT) AS n_valid,
       |       CAST(count(*) - sum(ok) AS BIGINT) AS n_invalid,
       |       CAST((1000000 * sum(ok)) // count(*) AS BIGINT) AS valid_ppm
       |FROM g7 GROUP BY segment""".stripMargin

  /** q155's oracle, shared VERBATIM with q161's recomposition (the
    * flagship oracle wraps the proven dunning oracle in the wave rank —
    * one text, no drift). */
  private val Q155DunningSql: String =
    """WITH aged AS (
      |  SELECT o_custkey AS key,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_open_cents,
      |         CAST(greatest(max(date_diff('day', CAST(o_orderdate AS DATE), DATE '1996-01-01') - 30), 0) AS BIGINT)
      |           AS worst_days_past_due
      |  FROM orders
      |  WHERE o_orderstatus IN ('O', 'P')
      |    AND CAST(o_orderdate AS DATE) <= DATE '1996-01-01'
      |  GROUP BY o_custkey),
      |hist AS (SELECT user_id AS key,
      |           CAST(sum(CASE WHEN ts > TIMESTAMP '2024-01-25 00:00:00' - INTERVAL 7 DAY
      |                         THEN 1 ELSE 0 END) AS BIGINT) AS n_window,
      |           CAST(floor(epoch(max(ts))) AS BIGINT) AS last_epoch
      |         FROM events
      |         WHERE ts <= TIMESTAMP '2024-01-25 00:00:00'
      |         GROUP BY user_id),
      |elig AS (SELECT a.key,
      |           CASE WHEN COALESCE(h.n_window, 0) < 10
      |                 AND (COALESCE((CAST(floor(epoch(TIMESTAMP '2024-01-25 00:00:00')) AS BIGINT)
      |                                - h.last_epoch) // 3600, -1) = -1
      |                      OR COALESCE((CAST(floor(epoch(TIMESTAMP '2024-01-25 00:00:00')) AS BIGINT)
      |                                   - h.last_epoch) // 3600, -1) >= 24)
      |            THEN 1 ELSE 0 END AS eligible
      |         FROM aged a LEFT JOIN hist h ON h.key = a.key),
      |lad AS (SELECT a.key, a.worst_days_past_due, a.total_open_cents, e.eligible,
      |          CASE WHEN a.worst_days_past_due <= 0 THEN 'NONE'
      |               WHEN a.worst_days_past_due <= 30 THEN 'REMINDER'
      |               WHEN a.worst_days_past_due <= 60 THEN 'WARNING'
      |               WHEN a.worst_days_past_due <= 90 THEN 'FINAL_NOTICE'
      |               ELSE 'HANDOFF' END AS ladder_action
      |        FROM aged a JOIN elig e ON e.key = a.key)
      |SELECT key, worst_days_past_due, total_open_cents, ladder_action,
      |       CAST(eligible AS BIGINT) AS eligible,
      |       CASE WHEN ladder_action = 'NONE' THEN 'NONE'
      |            WHEN eligible = 1 THEN ladder_action
      |            ELSE 'HOLD' END AS next_action
      |FROM lad""".stripMargin

  def oracles: Map[String, String] = base ++ streamFlipOracles

  /** The round-18 stream-flip rows (q178-q182) verify a STREAMING drive
    * against the already-proven batch oracle of the operator's batch
    * sibling — the q166-q168 precedent: same oracle text where the output
    * contract is identical, a derived projection of it where the stream's
    * feed is a documented subset (q179: last-touch only — a real-time
    * feed carrying first-touch would need unbounded per-user history). */
  private def streamFlipOracles: Map[String, String] = Map(
    "q178_stream_funnel" -> base("q64_funnel"),
    "q180_stream_cusum" -> base("q123_cusum"),
    "q181_stream_concurrency" -> base("q127_concurrency"),
    "q182_stream_scd2" -> base("q78_scd2_apply"),
    // q99's CTE chain restricted to its last-touch columns
    "q179_stream_attribution" ->
      """WITH e AS (SELECT event_id, user_id,
        |             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
        |             event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |c AS (SELECT event_id AS conv_id, user_id, us AS conv_us, cents
        |      FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS touch_id, user_id, us AS touch_us, event_type AS touch_type
        |      FROM e WHERE event_type IN ('view', 'click')),
        |p AS (SELECT c.conv_id, c.user_id, c.conv_us, c.cents,
        |             t.touch_id, t.touch_type, t.touch_us
        |      FROM c JOIN t ON t.user_id = c.user_id
        |       AND t.touch_us >= c.conv_us - 259200000000 AND t.touch_us <= c.conv_us),
        |r AS (SELECT p.*,
        |        row_number() OVER (PARTITION BY conv_id ORDER BY touch_us DESC, touch_id DESC) AS rl
        |      FROM p)
        |SELECT conv_id, user_id, conv_us, cents, CAST(count(*) AS BIGINT) AS n_touches,
        |       max(CASE WHEN rl = 1 THEN touch_id END) AS last_touch_id,
        |       max(CASE WHEN rl = 1 THEN touch_type END) AS last_touch_type,
        |       max(CASE WHEN rl = 1 THEN touch_us END) AS last_touch_us
        |FROM r GROUP BY conv_id, user_id, conv_us, cents""".stripMargin,
  )

  private lazy val base: Map[String, String] = Map(
    "q02_per_key_totals" ->
      """SELECT o_orderkey, o_custkey,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS valor_divida,
        |       count(*) OVER (PARTITION BY o_custkey) AS qtd_faturas
        |FROM orders""".stripMargin,
    "q03_dedup_best_row" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, o_orderstatus
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) = 1""".stripMargin,
    "q04_blocklist_threshold" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT user_id FROM events WHERE lower(trim(event_type)) = 'error'
        |  GROUP BY user_id HAVING count(*) >= 3)""".stripMargin,
    "q05_enrich_topk_wide" ->
      """SELECT o_custkey AS cpf,
        |       max(CASE WHEN rn = 1 THEN round(o_totalprice, 2) END) AS valor_1,
        |       max(CASE WHEN rn = 2 THEN round(o_totalprice, 2) END) AS valor_2,
        |       max(CASE WHEN rn = 3 THEN round(o_totalprice, 2) END) AS valor_3,
        |       max(CASE WHEN rn = 4 THEN round(o_totalprice, 2) END) AS valor_4,
        |       max(CASE WHEN rn = 1 THEN o_orderkey END) AS fatura_1,
        |       max(CASE WHEN rn = 2 THEN o_orderkey END) AS fatura_2,
        |       max(CASE WHEN rn = 3 THEN o_orderkey END) AS fatura_3,
        |       max(CASE WHEN rn = 4 THEN o_orderkey END) AS fatura_4
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |      FROM orders) t
        |WHERE rn <= 4 GROUP BY o_custkey""".stripMargin,
    "q06_priority_case" ->
      """SELECT o_orderkey, o_orderpriority,
        |       CASE WHEN upper(trim(o_orderpriority)) = '1-URGENT' OR upper(trim(o_orderstatus)) = '1-URGENT' THEN 0
        |            WHEN upper(trim(o_orderpriority)) = '2-HIGH'   OR upper(trim(o_orderstatus)) = '2-HIGH'   THEN 1
        |            WHEN upper(trim(o_orderpriority)) = '3-MEDIUM' OR upper(trim(o_orderstatus)) = '3-MEDIUM' THEN 2
        |            ELSE 3 END AS priority_level
        |FROM orders""".stripMargin,
    "q07_segment_flag" ->
      ("""SELECT o_custkey AS cpf,
        |       round(sum(o_totalprice), 2) AS valor_divida,
        |       strftime(max(o_orderdate), '%Y-%m-%d') AS ultima_fatura,
        |       CASE WHEN strftime(max(o_orderdate), '%Y-%m-%d') < '1997-06-01' THEN 'SIM' ELSE '""".stripMargin + NAO + """' END AS cliente_regulariza,
        |       CASE WHEN round(sum(o_totalprice), 2) >= 1500000.0 THEN 'HUMANO' ELSE 'ROBO' END AS segmento
        |FROM orders GROUP BY o_custkey""".stripMargin),
    "q08_top3_pivot" ->
      """SELECT o_custkey AS cpf,
        |       max(CASE WHEN rn = 1 THEN strftime(o_orderdate, '%d/%m/%Y') END) AS dt_1,
        |       max(CASE WHEN rn = 2 THEN strftime(o_orderdate, '%d/%m/%Y') END) AS dt_2,
        |       max(CASE WHEN rn = 3 THEN strftime(o_orderdate, '%d/%m/%Y') END) AS dt_3,
        |       max(CASE WHEN rn = 1 THEN replace(printf('%.2f', o_totalprice), '.', ',') END) AS valor_1,
        |       max(CASE WHEN rn = 2 THEN replace(printf('%.2f', o_totalprice), '.', ',') END) AS valor_2,
        |       max(CASE WHEN rn = 3 THEN replace(printf('%.2f', o_totalprice), '.', ',') END) AS valor_3,
        |       max(CASE WHEN rn = 1 THEN o_orderkey END) AS codbarra_1,
        |       max(CASE WHEN rn = 2 THEN o_orderkey END) AS codbarra_2,
        |       max(CASE WHEN rn = 3 THEN o_orderkey END) AS codbarra_3
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        |      FROM orders) t
        |WHERE rn <= 3 GROUP BY o_custkey""".stripMargin,
    "q09_br_format" ->
      """SELECT o_orderkey,
        |       replace(printf('%.2f', o_totalprice), '.', ',') AS valor_br,
        |       CASE WHEN o_totalprice = floor(o_totalprice)
        |            THEN CAST(CAST(o_totalprice AS BIGINT) AS VARCHAR)
        |            ELSE replace(printf('%.2f', o_totalprice), '.', ',') END AS valor_robo,
        |       CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) AS valor_robo_int,
        |       strftime(o_orderdate, '%d/%m/%Y') AS data_br,
        |       round(CAST(replace(replace(printf('%.2f', o_totalprice), '.', ','), ',', '.') AS DOUBLE), 2) AS valor_roundtrip,
        |       strftime(try_strptime(strftime(o_orderdate, '%d/%m/%Y'), '%d/%m/%Y'), '%Y-%m-%d') AS data_roundtrip,
        |       strftime(try_strptime('99/99/2024', '%d/%m/%Y'), '%Y-%m-%d') AS data_invalida
        |FROM orders""".stripMargin,
    "q10_clean_strings" ->
      ("""SELECT c_custkey,
        |       nullif(regexp_replace(c_name, '[^0-9]', '', 'g'), '') AS digits,
        |       regexp_replace(CAST(c_custkey AS VARCHAR) || '.0', '\.0$', '') AS id_clean,
        |       CASE WHEN pre IN ('nan', 'NaT', 'None', 'NAN') THEN NULL ELSE pre END AS seg_clean,
        |       replace(replace('AtÃ© ' || c_mktsegment || ' NÃƒO', 'NÃƒO', '""" + NAO + """'), 'AtÃ©', 'Até') AS fixed
        |FROM (SELECT *, CASE WHEN c_mktsegment = 'BUILDING' THEN 'nan' ELSE c_mktsegment END AS pre FROM customer) t""").stripMargin,
    "q11_events_daily" ->
      """SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS dia, event_type,
        |       count(*) AS qtd, round(sum(value), 2) AS soma_valor
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q12_collect_distinct" ->
      """SELECT o_custkey AS cpf,
        |       string_agg(DISTINCT o_orderstatus, ', ' ORDER BY o_orderstatus) AS ucs,
        |       count(DISTINCT o_orderstatus) AS qtd_ucs
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "q13_status_filter" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE lower(trim(o_orderstatus)) NOT IN ('p')""".stripMargin,
    "q14_dedup_most_complete" ->
      """SELECT c_nationkey, c_custkey, seg2, bal2
        |FROM (SELECT c_nationkey, c_custkey,
        |             nullif(c_mktsegment, 'BUILDING') AS seg2,
        |             CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END AS bal2
        |      FROM customer) t
        |QUALIFY row_number() OVER (
        |  PARTITION BY c_nationkey
        |  ORDER BY (CASE WHEN seg2 IS NULL THEN 0 ELSE 1 END + CASE WHEN bal2 IS NULL THEN 0 ELSE 1 END) DESC,
        |           c_custkey DESC) = 1""".stripMargin,
    "q15_profile_stats" ->
      """SELECT count(*) AS n_rows,
        |       count(DISTINCT o_custkey) AS d_cust,
        |       count(DISTINCT o_orderstatus) AS d_status,
        |       count(DISTINCT o_orderpriority) AS d_prio,
        |       round(min(o_totalprice), 2) AS min_total,
        |       round(max(o_totalprice), 2) AS max_total
        |FROM orders""".stripMargin,
    "q16_sessionize" ->
      """SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS qtd_sessoes, count(*) AS qtd_eventos
        |FROM (SELECT user_id,
        |             CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                    OR epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
        |                  THEN 1 ELSE 0 END AS new_sess
        |      FROM events) t
        |GROUP BY user_id""".stripMargin,
    "q27_join_revenue" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS data_pedido,
        |       CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.50001) AS BIGINT) AS revenue_cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
        |GROUP BY 1, 2""".stripMargin,
    "q28_star_join" ->
      """SELECT n_name,
        |       CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.50001) AS BIGINT) AS revenue_cents,
        |       count(*) AS n_items
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |            JOIN customer ON c_nationkey = n_nationkey
        |            JOIN orders ON o_custkey = c_custkey
        |            JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,
    "q38_event_stats" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(floor(quantile_cont(value, 0.5) * 1000 + 0.50001) AS BIGINT) AS median_q,
        |       CAST(floor(quantile_cont(value, 0.9) * 1000 + 0.50001) AS BIGINT) AS p90_q,
        |       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q39_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS okey
        |      FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT l.event_id, l.user_id, strftime(l.d, '%Y-%m-%d') AS event_date,
        |       CAST(coalesce(r.okey, -1) AS BIGINT) AS last_order,
        |       coalesce(strftime(r.o_orderdate, '%Y-%m-%d'), 'none') AS order_date
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.o_custkey AND l.d >= r.o_orderdate""".stripMargin,
    "q60_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS okey
        |      FROM orders GROUP BY o_custkey, o_orderdate),
        |j AS (SELECT l.event_id, l.user_id, l.d, r.o_orderdate, r.okey,
        |             (r.o_orderdate IS NOT NULL
        |              AND r.o_orderdate <= l.d + INTERVAL 30 DAY) AS in_tol
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.o_custkey AND l.d <= r.o_orderdate)
        |SELECT event_id, user_id, strftime(d, '%Y-%m-%d') AS event_date,
        |       CAST(CASE WHEN in_tol THEN okey ELSE -1 END AS BIGINT) AS next_order,
        |       CASE WHEN in_tol THEN strftime(o_orderdate, '%Y-%m-%d') ELSE 'none' END AS order_date
        |FROM j""".stripMargin,
    "q77_asof_nearest" ->
      """WITH l AS (SELECT event_id, user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS okey
        |      FROM orders GROUP BY o_custkey, o_orderdate),
        |b AS (SELECT l.event_id, r.o_orderdate AS bd, r.okey AS bkey
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.o_custkey AND l.d >= r.o_orderdate),
        |f AS (SELECT l.event_id, r.o_orderdate AS fd, r.okey AS fkey
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.o_custkey AND l.d <= r.o_orderdate),
        |j AS (SELECT l.event_id, l.user_id, l.d, b.bd, b.bkey, f.fd, f.fkey,
        |             (f.fd IS NULL OR (b.bd IS NOT NULL AND l.d - b.bd <= f.fd - l.d)) AS pick_b
        |      FROM l JOIN b USING (event_id) JOIN f USING (event_id))
        |SELECT event_id, user_id, strftime(d, '%Y-%m-%d') AS event_date,
        |       CAST(coalesce(CASE WHEN pick_b THEN bkey ELSE fkey END, -1) AS BIGINT) AS near_order,
        |       coalesce(strftime(CASE WHEN pick_b THEN bd ELSE fd END, '%Y-%m-%d'), 'none') AS order_date
        |FROM j""".stripMargin,
    "q64_funnel" ->
      """WITH ev AS (SELECT user_id, event_type,
        |              CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us
        |            FROM events WHERE user_id IS NOT NULL),
        |v AS (SELECT user_id, min(ts_us) AS t_view_us
        |      FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts_us) AS t_click_us
        |      FROM ev e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.ts_us > v.t_view_us
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts_us) AS t_purchase_us
        |      FROM ev e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts_us > c.t_click_us
        |      GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view_us, c.t_click_us, p.t_purchase_us,
        |       CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
        |              + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS steps_completed
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |       LEFT JOIN p ON p.user_id = v.user_id""".stripMargin,
    "q65_retention" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id,
        |         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
        |  FROM events WHERE user_id IS NOT NULL),
        |fw AS (SELECT user_id, min(week) AS cohort FROM wk GROUP BY user_id)
        |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
        |       CAST((w.week - f.cohort) // 7 AS BIGINT) AS week_offset,
        |       CAST(count(*) AS BIGINT) AS n_active
        |FROM wk w JOIN fw f ON f.user_id = w.user_id
        |GROUP BY 1, 2""".stripMargin,
    "q66_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "q67_rolling" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |         CAST(floor(sum(value) * 100 + 0.50001) AS BIGINT) AS day_cents
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, d, day_cents,
        |         CAST(sum(day_cents) OVER (PARTITION BY event_type
        |              ORDER BY d - DATE '1970-01-01'
        |              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents
        |  FROM daily)
        |SELECT event_type, strftime(d, '%Y-%m-%d') AS day, day_cents, roll_cents,
        |       CAST(floor(roll_cents / 7.0) AS BIGINT) AS roll_avg_cents
        |FROM r""".stripMargin,
    "q68_deciles" ->
      """WITH b AS (
        |  SELECT o_orderstatus AS "group", o_totalprice AS v,
        |         ntile(10) OVER (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey) AS bucket
        |  FROM orders)
        |SELECT "group", CAST(bucket AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_rows, min(v) AS lo, max(v) AS hi
        |FROM b GROUP BY 1, 2""".stripMargin,
    "q78_scd2_apply" ->
      """WITH o AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
        |           FROM customer WHERE c_custkey % 10 <> 3),
        |n AS (SELECT c_custkey AS k,
        |             CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS seg,
        |             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS bal
        |      FROM customer WHERE c_custkey % 10 <> 7),
        |j AS (SELECT o.k AS ok, o.seg AS oseg, o.bal AS obal, n.k AS nk, n.seg AS nseg, n.bal AS nbal
        |      FROM o FULL JOIN n ON o.k = n.k),
        |-- day-1 open rows: closed when the key vanished or changed on day 2
        |day1 AS (SELECT ok AS c_custkey, oseg AS c_mktsegment, obal AS c_acctbal,
        |                '2024-01-01' AS valid_from,
        |                CASE WHEN nk IS NULL
        |                       OR oseg IS DISTINCT FROM nseg
        |                       OR obal IS DISTINCT FROM nbal
        |                     THEN '2024-01-02' ELSE '' END AS valid_to
        |         FROM j WHERE ok IS NOT NULL),
        |-- day-2 inserts: added keys and changed versions stay open
        |day2 AS (SELECT nk AS c_custkey, nseg AS c_mktsegment, nbal AS c_acctbal,
        |                '2024-01-02' AS valid_from, '' AS valid_to
        |         FROM j
        |         WHERE nk IS NOT NULL AND (ok IS NULL
        |               OR oseg IS DISTINCT FROM nseg
        |               OR obal IS DISTINCT FROM nbal))
        |SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS c_acctbal,
        |       valid_from, valid_to
        |FROM (SELECT * FROM day1 UNION ALL SELECT * FROM day2) u""".stripMargin,
    "q89_temporal_join" ->
      """WITH o AS (SELECT c_custkey AS k, c_mktsegment AS seg
        |           FROM customer WHERE c_custkey % 10 <> 3),
        |n AS (SELECT c_custkey AS k,
        |             CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS seg
        |      FROM customer WHERE c_custkey % 10 <> 7),
        |j AS (SELECT o.k AS ok, o.seg AS oseg, n.k AS nk, n.seg AS nseg
        |      FROM o FULL JOIN n ON o.k = n.k),
        |day1 AS (SELECT ok AS c_custkey, oseg AS c_mktsegment,
        |                '2024-01-01' AS valid_from,
        |                CASE WHEN nk IS NULL OR oseg IS DISTINCT FROM nseg
        |                     THEN '2024-01-02' ELSE NULL END AS valid_to
        |         FROM j WHERE ok IS NOT NULL),
        |day2 AS (SELECT nk AS c_custkey, nseg AS c_mktsegment,
        |                '2024-01-02' AS valid_from, NULL AS valid_to
        |         FROM j WHERE nk IS NOT NULL AND (ok IS NULL OR oseg IS DISTINCT FROM nseg)),
        |dim AS (SELECT * FROM day1 UNION ALL SELECT * FROM day2),
        |f AS (SELECT o_orderkey, o_custkey AS c_custkey,
        |             CASE WHEN o_orderkey % 2 = 0 THEN '2024-01-01' ELSE '2024-01-03' END AS probe_ts
        |      FROM orders)
        |SELECT f.o_orderkey, f.c_custkey, f.probe_ts,
        |       coalesce(d.c_mktsegment, '') AS seg_at_ts,
        |       coalesce(d.valid_from, '') AS dim_valid_from
        |FROM f LEFT JOIN dim d
        |  ON d.c_custkey = f.c_custkey AND d.valid_from <= f.probe_ts
        |     AND (d.valid_to IS NULL OR d.valid_to > f.probe_ts)""".stripMargin,
    "q97_robust_outliers" ->
      """WITH b AS (SELECT event_id, event_type,
        |             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT event_type, CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS med2
        |      FROM b GROUP BY event_type),
        |dv AS (SELECT b.event_id, b.event_type, b.cents, m.med2,
        |              abs(2 * b.cents - m.med2) AS dev2
        |       FROM b JOIN m USING (event_type)),
        |md AS (SELECT event_type, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
        |       FROM dv GROUP BY event_type)
        |SELECT dv.event_id, dv.event_type, dv.cents, dv.med2, dv.dev2, md.mad4,
        |       (2 * dv.dev2 > 3 * md.mad4) AS is_outlier
        |FROM dv JOIN md USING (event_type)""".stripMargin,
    "q115_interpolate" ->
      """WITH e AS (SELECT event_id, user_id,
        |             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
        |             event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |u AS (SELECT user_id AS k, us AS t, 0 AS r, CAST(NULL AS BIGINT) AS v,
        |             event_id AS eid
        |      FROM e WHERE event_type = 'view'
        |      UNION ALL
        |      SELECT user_id, us, 1, cents, NULL FROM e WHERE event_type = 'purchase'),
        |b AS (SELECT *,
        |        last_value(v IGNORE NULLS) OVER
        |          (PARTITION BY k ORDER BY t ASC, r DESC, v ASC NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vb,
        |        last_value(CASE WHEN r = 1 THEN t END IGNORE NULLS) OVER
        |          (PARTITION BY k ORDER BY t ASC, r DESC, v ASC NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tb
        |      FROM u),
        |f AS (SELECT *,
        |        last_value(v IGNORE NULLS) OVER
        |          (PARTITION BY k ORDER BY t DESC, r DESC, v ASC NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf,
        |        last_value(CASE WHEN r = 1 THEN t END IGNORE NULLS) OVER
        |          (PARTITION BY k ORDER BY t DESC, r DESC, v ASC NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tf
        |      FROM b)
        |SELECT eid AS event_id, k AS user_id, t, tb AS prev_t, vb AS prev_v,
        |       tf AS next_t, vf AS next_v,
        |       CASE WHEN tb IS NOT NULL AND tf IS NOT NULL AND tf <> tb
        |            THEN (vb * (tf - t) + vf * (t - tb)) // (tf - tb)
        |            WHEN tb IS NOT NULL THEN vb
        |            WHEN tf IS NOT NULL THEN vf END AS interp
        |FROM f WHERE r = 0""".stripMargin,
    "q122_fd_profile" ->
      """WITH fd AS (
        |  SELECT 'o_orderkey' AS lhs_col, 'o_custkey' AS rhs_col, o_orderkey AS l,
        |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS nr
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_orderkey
        |  UNION ALL
        |  SELECT 'o_custkey', 'o_orderstatus', o_custkey,
        |         CAST(count(DISTINCT o_orderstatus) AS BIGINT)
        |  FROM orders WHERE o_orderstatus IS NOT NULL GROUP BY o_custkey
        |  UNION ALL
        |  SELECT 'o_orderpriority', 'o_orderstatus', hash(o_orderpriority),
        |         CAST(count(DISTINCT o_orderstatus) AS BIGINT)
        |  FROM orders WHERE o_orderstatus IS NOT NULL GROUP BY o_orderpriority)
        |SELECT lhs_col, rhs_col, CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |       sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds
        |FROM fd GROUP BY lhs_col, rhs_col""".stripMargin,
    "q120_quarantine" ->
      """WITH t AS (SELECT o_orderkey,
        |  concat_ws(',',
        |    CASE WHEN o_custkey IS NULL THEN 'complete(o_custkey)' END,
        |    CASE WHEN NOT COALESCE(o_totalprice BETWEEN 1000.0 AND 400000.0, FALSE)
        |         THEN 'in_range(o_totalprice)' END,
        |    CASE WHEN NOT COALESCE(o_orderstatus IN ('F','O'), FALSE)
        |         THEN 'in_set(o_orderstatus)' END,
        |    CASE WHEN NOT COALESCE(regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$'), FALSE)
        |         THEN 'matches(o_orderpriority)' END) AS violations_csv,
        |  (CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END
        |   + CASE WHEN NOT COALESCE(o_totalprice BETWEEN 1000.0 AND 400000.0, FALSE) THEN 1 ELSE 0 END
        |   + CASE WHEN NOT COALESCE(o_orderstatus IN ('F','O'), FALSE) THEN 1 ELSE 0 END
        |   + CASE WHEN NOT COALESCE(regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$'), FALSE) THEN 1 ELSE 0 END
        |  ) AS nv
        |  FROM orders)
        |SELECT o_orderkey, violations_csv, CAST(nv AS BIGINT) AS n_violations
        |FROM t WHERE nv > 0""".stripMargin,
    "q116_kanon" ->
      """WITH e AS (SELECT event_type AS grp, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |             user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY grp, day, user_id ORDER BY event_id) AS rn FROM e),
        |pe AS (SELECT grp, day, user_id, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(cents) AS BIGINT) AS s
        |       FROM r WHERE rn <= 3 GROUP BY grp, day, user_id)
        |SELECT grp, day, CAST(count(*) AS BIGINT) AS n_entities,
        |       CAST(sum(n) AS BIGINT) AS n_rows, CAST(sum(s) AS BIGINT) AS sum_cents
        |FROM pe GROUP BY grp, day HAVING count(*) >= 5""".stripMargin,
    "q117_join_size" ->
      """WITH l AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n_left
        |           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_right
        |      FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1)
        |SELECT l.k, l.n_left, r.n_right, CAST(l.n_left * r.n_right AS BIGINT) AS n_pairs
        |FROM l JOIN r ON r.k = l.k""".stripMargin,
    "q114_drift" ->
      """WITH ev AS (SELECT event_type AS grp, event_id,
        |              CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |binned AS (SELECT grp, event_id % 2 AS half,
        |             ((least(CAST(99999 AS BIGINT), greatest(CAST(0 AS BIGINT), cents))
        |               * 20) // 100000) AS bin
        |           FROM ev),
        |h AS (SELECT grp, half, bin, CAST(count(*) AS BIGINT) AS n
        |      FROM binned GROUP BY grp, half, bin),
        |t AS (SELECT grp, half, CAST(sum(n) AS BIGINT) AS tot
        |      FROM h GROUP BY grp, half),
        |p AS (SELECT h.grp, h.half, h.bin, h.n,
        |             CAST((1000000 * h.n) // t.tot AS BIGINT) AS pp
        |      FROM h JOIN t ON t.grp = h.grp AND t.half = h.half),
        |j AS (SELECT COALESCE(r.grp, c.grp) AS grp,
        |             COALESCE(r.n, 0) AS n_r, COALESCE(c.n, 0) AS n_c,
        |             abs(COALESCE(r.pp, 0) - COALESCE(c.pp, 0)) AS d
        |      FROM (SELECT * FROM p WHERE half = 0) r
        |      FULL OUTER JOIN (SELECT * FROM p WHERE half = 1) c
        |        ON c.grp = r.grp AND c.bin = r.bin)
        |SELECT grp, CAST(sum(n_r) AS BIGINT) AS n_ref,
        |       CAST(sum(n_c) AS BIGINT) AS n_cur,
        |       CAST(sum(d) AS BIGINT) AS l1_ppm
        |FROM j GROUP BY grp""".stripMargin,
    "q111_event_paths" ->
      """WITH s AS (SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
        |           FROM events GROUP BY user_id),
        |g AS (SELECT unnest(list_transform(range(1, len(types) - 1), i ->
        |        types[i] || '>' || types[i+1] || '>' || types[i+2])) AS path
        |      FROM s WHERE len(types) >= 3)
        |SELECT path, CAST(count(*) AS BIGINT) AS n
        |FROM g GROUP BY path HAVING count(*) >= 5""".stripMargin,
    "q112_gap_fill" ->
      """WITH daily AS (SELECT event_type AS grp, CAST(ts AS DATE) AS d,
        |                 CAST(count(*) AS BIGINT) AS n0
        |               FROM events GROUP BY 1, 2),
        |b AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
        |days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
        |         FROM b),
        |spine AS (SELECT g.grp, days.d
        |          FROM (SELECT DISTINCT grp FROM daily) g, days),
        |f AS (SELECT spine.grp, spine.d, COALESCE(daily.n0, 0) AS n
        |      FROM spine LEFT JOIN daily
        |        ON daily.grp = spine.grp AND daily.d = spine.d)
        |SELECT grp, strftime(d, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n,
        |       CAST(sum(n) OVER (PARTITION BY grp ORDER BY d) AS BIGINT) AS cum_n
        |FROM f""".stripMargin,
    "q123_cusum" ->
      """WITH daily AS (SELECT event_type AS grp, CAST(ts AS DATE) AS d,
        |                 CAST(count(*) AS BIGINT) AS n
        |               FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT grp, CAST(sum(n) AS BIGINT) AS s,
        |        CAST(count(*) AS BIGINT) AS dd
        |      FROM daily GROUP BY grp),
        |p AS (SELECT daily.grp, daily.d, daily.n, t.s,
        |        CAST(sum(t.dd * daily.n - t.s)
        |          OVER (PARTITION BY daily.grp ORDER BY daily.d) AS BIGINT) AS pp
        |      FROM daily JOIN t ON t.grp = daily.grp),
        |c AS (SELECT grp, d, n, s,
        |        pp - LEAST(0, min(pp) OVER (PARTITION BY grp ORDER BY d)) AS cusum_q
        |      FROM p)
        |SELECT grp, strftime(d, '%Y-%m-%d') AS day, n,
        |       CAST(cusum_q AS BIGINT) AS cusum_q,
        |       CAST(CASE WHEN cusum_q >= 3 * s THEN 1 ELSE 0 END AS BIGINT) AS alarm
        |FROM c""".stripMargin,
    "q124_basket_rules" ->
      """WITH bi AS (SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS item
        |            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nb FROM bi),
        |itn AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
        |        FROM bi GROUP BY item HAVING count(*) >= 1000),
        |f AS (SELECT bk, item FROM (
        |        SELECT bi.bk, bi.item,
        |               row_number() OVER (PARTITION BY bi.bk ORDER BY bi.item) AS rn
        |        FROM bi JOIN itn ON itn.item = bi.item) z
        |      WHERE rn <= 1000),
        |pr AS (SELECT a.item AS u, b.item AS v, CAST(count(*) AS BIGINT) AS n_pair
        |       FROM f a JOIN f b ON a.bk = b.bk AND a.item < b.item
        |       GROUP BY 1, 2 HAVING count(*) >= 150),
        |dr AS (SELECT u AS antecedent, v AS consequent, n_pair FROM pr
        |       UNION ALL SELECT v, u, n_pair FROM pr)
        |SELECT dr.antecedent, dr.consequent, dr.n_pair, ia.n_item AS n_ante,
        |       CAST((1000000 * dr.n_pair) // ia.n_item AS BIGINT) AS conf_ppm,
        |       CAST((CAST(1000000 AS HUGEINT) * dr.n_pair * nb.nb)
        |         // (CAST(ia.n_item AS HUGEINT) * ic.n_item) AS BIGINT) AS lift_ppm
        |FROM dr JOIN itn ia ON ia.item = dr.antecedent
        |        JOIN itn ic ON ic.item = dr.consequent, nb""".stripMargin,
    "q131_theil_sen" ->
      """WITH daily AS (SELECT event_type AS grp, CAST(ts AS DATE) AS d,
        |                 CAST(count(*) AS BIGINT) AS v
        |               FROM events GROUP BY 1, 2),
        |p AS (SELECT a.grp, a.d AS d1, b.d AS d2,
        |        CAST((1000000 * (b.v - a.v)) // date_diff('day', a.d, b.d) AS BIGINT) AS slope_q
        |      FROM daily a JOIN daily b ON a.grp = b.grp AND a.d < b.d),
        |r AS (SELECT grp, slope_q,
        |        row_number() OVER (PARTITION BY grp ORDER BY slope_q, d1, d2) AS rn,
        |        count(*) OVER (PARTITION BY grp) AS np
        |      FROM p),
        |tp AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_points FROM daily GROUP BY grp)
        |SELECT r.grp, tp.n_points, CAST(r.np AS BIGINT) AS n_pairs,
        |       CAST(r.slope_q AS BIGINT) AS slope_ppm_per_day
        |FROM r JOIN tp ON tp.grp = r.grp WHERE r.rn = (r.np + 1) // 2""".stripMargin,
    "q138_cpf_audit" -> cpfAuditOracle,
    "q144_revenue_pareto" ->
      """WITH rev AS (SELECT c.c_mktsegment AS segment, c.c_custkey,
        |               CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS cents
        |             FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |             GROUP BY 1, 2),
        |rk AS (SELECT *,
        |         CAST(floor(percent_rank() OVER
        |           (PARTITION BY segment ORDER BY cents) * 10000) AS BIGINT) AS pr_bp
        |       FROM rev)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(cents) AS BIGINT) AS total_cents,
        |       CAST(sum(CASE WHEN pr_bp >= 9000 THEN cents ELSE 0 END) AS BIGINT) AS top_decile_cents,
        |       CAST((1000000 * sum(CASE WHEN pr_bp >= 9000 THEN cents ELSE 0 END))
        |         // sum(cents) AS BIGINT) AS top_decile_ppm
        |FROM rk GROUP BY segment""".stripMargin,
    "q142_send_time" ->
      """WITH h AS (SELECT user_id, CAST(hour(ts) AS BIGINT) AS hh,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS tt FROM h GROUP BY user_id),
        |r AS (SELECT user_id, hh, n,
        |        row_number() OVER (PARTITION BY user_id ORDER BY n DESC, hh ASC) AS rn
        |      FROM h)
        |SELECT r.user_id, r.hh AS best_hour, r.n AS n_events,
        |       CAST((1000000 * r.n) // t.tt AS BIGINT) AS share_ppm
        |FROM r JOIN t ON t.user_id = r.user_id WHERE r.rn = 1""".stripMargin,
    "q151_wave_schedule" ->
      """WITH debts AS (SELECT o_custkey AS cpf,
        |                CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS debt_cents
        |              FROM orders GROUP BY 1),
        |r AS (SELECT cpf, debt_cents,
        |        CAST(row_number() OVER (ORDER BY debt_cents DESC, cpf ASC) AS BIGINT) AS ordinal
        |      FROM debts)
        |SELECT cpf, debt_cents, ordinal,
        |       CAST((ordinal - 1) // 500 + 1 AS BIGINT) AS wave
        |FROM r""".stripMargin,
    "q153_mailing_pipeline" ->
      ("""WITH blocked AS (
        |  SELECT user_id FROM events WHERE lower(trim(event_type)) = 'error'
        |  GROUP BY user_id HAVING count(*) >= 3),
        |debts AS (
        |  SELECT o_custkey, round(sum(o_totalprice), 2) AS valor_divida,
        |         CAST(count(*) AS BIGINT) AS parcelas,
        |         strftime(max(o_orderdate), '%Y-%m-%d') AS ultima_fatura
        |  FROM orders GROUP BY o_custkey),
        |contacts AS (
        |  SELECT o_custkey,
        |         max(CASE WHEN rn = 1 THEN CAST(o_orderkey AS VARCHAR) END) AS contato_01,
        |         max(CASE WHEN rn = 2 THEN CAST(o_orderkey AS VARCHAR) END) AS contato_02,
        |         max(CASE WHEN rn = 3 THEN CAST(o_orderkey AS VARCHAR) END) AS contato_03,
        |         max(CASE WHEN rn = 4 THEN CAST(o_orderkey AS VARCHAR) END) AS contato_04
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |        FROM orders) t
        |  WHERE rn <= 4 GROUP BY o_custkey)
        |SELECT c.c_custkey AS cpf, c.c_name AS nome_cliente,
        |       c.c_mktsegment AS produto,
        |       CAST(coalesce(d.parcelas, 0) AS BIGINT) AS parcelas,
        |       n.n_name AS localidade,
        |       coalesce(d.valor_divida, 0.0) AS valor_divida,
        |       CASE WHEN d.ultima_fatura < '1997-06-01' THEN 'SIM' ELSE '""".stripMargin + NAO + """' END AS cliente_regulariza,
        |       k.contato_01, k.contato_02, k.contato_03, k.contato_04,
        |       CASE WHEN upper(trim(c.c_mktsegment)) = 'BUILDING' THEN 0
        |            WHEN upper(trim(c.c_mktsegment)) = 'MACHINERY' THEN 1
        |            WHEN upper(trim(c.c_mktsegment)) = 'HOUSEHOLD' THEN 2
        |            ELSE 3 END AS priority_level,
        |       CASE WHEN coalesce(d.valor_divida, 0.0) >= 1500000.0
        |            THEN 'HUMANO' ELSE 'ROBO' END AS segmento
        |FROM customer c
        |LEFT JOIN debts d ON c.c_custkey = d.o_custkey
        |LEFT JOIN contacts k ON c.c_custkey = k.o_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_custkey NOT IN (SELECT user_id FROM blocked)
        |  AND lower(trim(c.c_mktsegment)) NOT IN ('automobile')""".stripMargin),
    "q148_blocklist_sweep" ->
      """WITH per AS (SELECT user_id, count(*) AS n FROM events
        |             WHERE lower(trim(event_type)) = 'error' GROUP BY 1),
        |t AS (SELECT CAST(unnest(range(1, 7)) AS BIGINT) AS threshold)
        |SELECT t.threshold, CAST(count(p.user_id) AS BIGINT) AS n_blocked
        |FROM t LEFT JOIN per p ON p.n >= t.threshold
        |GROUP BY 1""".stripMargin,
    "q141_rfm" ->
      """WITH per AS (SELECT o_custkey AS cust,
        |               CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
        |                              DATE '2025-01-01') AS BIGINT) AS r_days,
        |               CAST(count(*) AS BIGINT) AS f_n,
        |               CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS m_cents
        |             FROM orders
        |             WHERE CAST(o_orderdate AS DATE) <= DATE '2025-01-01'
        |             GROUP BY o_custkey),
        |rk AS (SELECT *,
        |         CAST(floor(percent_rank() OVER (ORDER BY -r_days) * 10000) AS BIGINT) AS rbp,
        |         CAST(floor(percent_rank() OVER (ORDER BY f_n) * 10000) AS BIGINT) AS fbp,
        |         CAST(floor(percent_rank() OVER (ORDER BY m_cents) * 10000) AS BIGINT) AS mbp
        |       FROM per),
        |sc AS (SELECT cust, r_days, f_n, m_cents,
        |         least(5, (rbp * 5) // 10000 + 1) AS r_score,
        |         least(5, (fbp * 5) // 10000 + 1) AS f_score,
        |         least(5, (mbp * 5) // 10000 + 1) AS m_score
        |       FROM rk)
        |SELECT cust, r_days, f_n, m_cents,
        |       CAST(r_score AS BIGINT) AS r_score,
        |       CAST(f_score AS BIGINT) AS f_score,
        |       CAST(m_score AS BIGINT) AS m_score,
        |       CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_code
        |FROM sc""".stripMargin,
    "q159_dup_payments" ->
      """WITH p AS (
        |  SELECT user_id AS key, event_id AS pay_id, ts,
        |         CAST(floor(value) AS BIGINT) AS amount_units,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS e
        |  FROM events WHERE event_type = 'purchase'),
        |l AS (SELECT key, amount_units, pay_id, ts, e,
        |        lag(pay_id) OVER (PARTITION BY key, amount_units ORDER BY ts, pay_id) AS pay_id_prev,
        |        lag(e) OVER (PARTITION BY key, amount_units ORDER BY ts, pay_id) AS e_prev
        |      FROM p)
        |SELECT key, amount_units, pay_id_prev, pay_id,
        |       CAST((e - e_prev) // 3600 AS BIGINT) AS hours_apart
        |FROM l
        |WHERE pay_id_prev IS NOT NULL AND (e - e_prev) // 3600 <= 720""".stripMargin,
    "q158_benford" ->
      """WITH c AS (
        |  SELECT o_orderpriority AS grp,
        |         CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |g AS (SELECT grp, digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY grp, digit),
        |t AS (SELECT grp, digit, n, sum(n) OVER (PARTITION BY grp) AS tot FROM g),
        |e AS (SELECT grp, digit, n,
        |        CAST((1000000 * n) // tot AS BIGINT) AS obs_ppm,
        |        CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
        |                        WHEN 3 THEN 124939 WHEN 4 THEN 96910
        |                        WHEN 5 THEN 79181 WHEN 6 THEN 66947
        |                        WHEN 7 THEN 57992 WHEN 8 THEN 51153
        |                        WHEN 9 THEN 45757 END AS BIGINT) AS exp_ppm
        |      FROM t)
        |SELECT grp, digit, n, obs_ppm, exp_ppm, obs_ppm - exp_ppm AS dev_ppm
        |FROM e""".stripMargin,
    "q157_remittance" ->
      """WITH inv AS (
        |  SELECT o_custkey AS key, o_orderkey AS inv_id,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS ic,
        |         sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           OVER (PARTITION BY o_custkey
        |                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS inv_hi
        |  FROM orders WHERE o_orderstatus IN ('O', 'P')),
        |pay AS (
        |  SELECT user_id AS key, event_id AS pay_id,
        |         CAST(round(value * 100) AS BIGINT) AS pc,
        |         sum(CAST(round(value * 100) AS BIGINT))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pay_hi
        |  FROM events WHERE event_type = 'purchase'),
        |alloc AS (
        |  SELECT i.key, i.inv_id,
        |         least(i.inv_hi, p.pay_hi) - greatest(i.inv_hi - i.ic, p.pay_hi - p.pc) AS a
        |  FROM inv i JOIN pay p ON i.key = p.key
        |  WHERE least(i.inv_hi, p.pay_hi) - greatest(i.inv_hi - i.ic, p.pay_hi - p.pc) > 0),
        |agg AS (SELECT key, inv_id, CAST(sum(a) AS BIGINT) AS paid_cents,
        |               CAST(count(*) AS BIGINT) AS n_payments
        |        FROM alloc GROUP BY key, inv_id)
        |SELECT i.key, i.inv_id, i.ic AS inv_cents,
        |       COALESCE(g.paid_cents, 0) AS paid_cents,
        |       i.ic - COALESCE(g.paid_cents, 0) AS outstanding_cents,
        |       COALESCE(g.n_payments, 0) AS n_payments,
        |       CASE WHEN i.ic - COALESCE(g.paid_cents, 0) <= 0 THEN 'PAID'
        |            WHEN COALESCE(g.paid_cents, 0) > 0 THEN 'PARTIAL'
        |            ELSE 'OPEN' END AS status
        |FROM inv i LEFT JOIN agg g ON g.key = i.key AND g.inv_id = i.inv_id""".stripMargin,
    "q154_ar_aging" ->
      """WITH open_inv AS (
        |  SELECT o_custkey AS key,
        |         date_diff('day', CAST(o_orderdate AS DATE), DATE '1996-01-01') - 30 AS past_due,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_orderstatus IN ('O', 'P')
        |    AND CAST(o_orderdate AS DATE) <= DATE '1996-01-01')
        |SELECT key,
        |  CAST(coalesce(sum(CASE WHEN past_due <= 0 THEN cents END), 0) AS BIGINT) AS current_cents,
        |  CAST(coalesce(sum(CASE WHEN past_due BETWEEN 1 AND 30 THEN cents END), 0) AS BIGINT) AS d1_30_cents,
        |  CAST(coalesce(sum(CASE WHEN past_due BETWEEN 31 AND 60 THEN cents END), 0) AS BIGINT) AS d31_60_cents,
        |  CAST(coalesce(sum(CASE WHEN past_due BETWEEN 61 AND 90 THEN cents END), 0) AS BIGINT) AS d61_90_cents,
        |  CAST(coalesce(sum(CASE WHEN past_due > 90 THEN cents END), 0) AS BIGINT) AS d90_plus_cents,
        |  CAST(sum(cents) AS BIGINT) AS total_open_cents,
        |  CAST(count(*) AS BIGINT) AS n_open,
        |  CAST(greatest(max(past_due), 0) AS BIGINT) AS worst_days_past_due
        |FROM open_inv GROUP BY key""".stripMargin,
    "q155_dunning" -> Q155DunningSql,
    // q173/q174: the lake round trips must restore the source exactly
    // (modulo the overwritten partition's doubling), so the oracles are
    // plain SQL over the SOURCE table — write fidelity IS the assertion.
    "q173_lake_roundtrip" ->
      """SELECT event_id, user_id,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s, value
        |FROM events WHERE event_type = 'purchase'""".stripMargin,
    "q174_partition_overwrite" ->
      """SELECT event_id, event_type,
        |       CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS value
        |FROM events""".stripMargin,
    "q175_compaction_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, TRUE AS files_ok
        |FROM orders""".stripMargin,
    "q176_br_csv_roundtrip" ->
      """SELECT o_orderkey,
        |       CAST(o_custkey AS VARCHAR) AS o_custkey,
        |       replace(printf('%.2f', o_totalprice), '.', ',') AS valor_br,
        |       strftime(o_orderdate, '%d/%m/%Y') AS data_br,
        |       o_orderstatus AS status
        |FROM orders""".stripMargin,
    "q177_robot_slots_roundtrip" ->
      """SELECT event_id, user_id, event_type, '08HRS' AS slot
        |FROM events WHERE event_type IN ('view', 'click')
        |UNION ALL
        |SELECT event_id, user_id, event_type, '09HRS' AS slot
        |FROM events WHERE event_type IN ('purchase', 'click')""".stripMargin,
    // q166-q168: the S22/S23/S24 streaming drives must equal their batch
    // forms, so each reuses the batch sibling's oracle text VERBATIM
    // (q04 / q157 / q162) — the equivalence IS the assertion.
    "q166_stream_blocklist" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT user_id FROM events WHERE lower(trim(event_type)) = 'error'
        |  GROUP BY user_id HAVING count(*) >= 3)""".stripMargin,
    "q167_stream_remittance" ->
      """WITH inv AS (
        |  SELECT o_custkey AS key, o_orderkey AS inv_id,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS ic,
        |         sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           OVER (PARTITION BY o_custkey
        |                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS inv_hi
        |  FROM orders WHERE o_orderstatus IN ('O', 'P')),
        |pay AS (
        |  SELECT user_id AS key, event_id AS pay_id,
        |         CAST(round(value * 100) AS BIGINT) AS pc,
        |         sum(CAST(round(value * 100) AS BIGINT))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pay_hi
        |  FROM events WHERE event_type = 'purchase'),
        |alloc AS (
        |  SELECT i.key, i.inv_id,
        |         least(i.inv_hi, p.pay_hi) - greatest(i.inv_hi - i.ic, p.pay_hi - p.pc) AS a
        |  FROM inv i JOIN pay p ON i.key = p.key
        |  WHERE least(i.inv_hi, p.pay_hi) - greatest(i.inv_hi - i.ic, p.pay_hi - p.pc) > 0),
        |agg AS (SELECT key, inv_id, CAST(sum(a) AS BIGINT) AS paid_cents,
        |               CAST(count(*) AS BIGINT) AS n_payments
        |        FROM alloc GROUP BY key, inv_id)
        |SELECT i.key, i.inv_id, i.ic AS inv_cents,
        |       COALESCE(g.paid_cents, 0) AS paid_cents,
        |       i.ic - COALESCE(g.paid_cents, 0) AS outstanding_cents,
        |       COALESCE(g.n_payments, 0) AS n_payments,
        |       CASE WHEN i.ic - COALESCE(g.paid_cents, 0) <= 0 THEN 'PAID'
        |            WHEN COALESCE(g.paid_cents, 0) > 0 THEN 'PARTIAL'
        |            ELSE 'OPEN' END AS status
        |FROM inv i LEFT JOIN agg g ON g.key = i.key AND g.inv_id = i.inv_id""".stripMargin,
    "q168_stream_netting" ->
      """WITH p AS (
        |  SELECT user_id AS key, event_id AS id, ts,
        |         CAST(round((CASE WHEN event_id % 7 = 0 THEN -floor(value)
        |                          ELSE value END) * 100) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |c1 AS (SELECT key, id, ts,
        |         sum(c) OVER (PARTITION BY key ORDER BY ts, id) AS cum
        |       FROM p),
        |c2 AS (SELECT key, id, ts,
        |         greatest(min(cum) OVER (PARTITION BY key ORDER BY ts, id
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 0) AS env
        |       FROM c1)
        |SELECT key, id,
        |       CAST(env - coalesce(lag(env) OVER (PARTITION BY key ORDER BY ts, id), 0) AS BIGINT) AS net_cents
        |FROM c2""".stripMargin,
    "q162_net_adjustments" ->
      """WITH p AS (
        |  SELECT user_id AS key, event_id AS id, ts,
        |         CAST(round((CASE WHEN event_id % 7 = 0 THEN -floor(value)
        |                          ELSE value END) * 100) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |c1 AS (SELECT key, id, ts,
        |         sum(c) OVER (PARTITION BY key ORDER BY ts, id) AS cum
        |       FROM p),
        |c2 AS (SELECT key, id, ts,
        |         greatest(min(cum) OVER (PARTITION BY key ORDER BY ts, id
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 0) AS env
        |       FROM c1)
        |SELECT key, id,
        |       CAST(env - coalesce(lag(env) OVER (PARTITION BY key ORDER BY ts, id), 0) AS BIGINT) AS net_cents
        |FROM c2""".stripMargin,
    "q163_netted_settlement" ->
      """WITH praw AS (
        |  SELECT user_id AS key, event_id AS id, ts,
        |         CAST(round((CASE WHEN event_id % 7 = 0 THEN -floor(value)
        |                          ELSE value END) * 100) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |c1 AS (SELECT key, id, ts,
        |         sum(c) OVER (PARTITION BY key ORDER BY ts, id) AS cum
        |       FROM praw),
        |c2 AS (SELECT key, id, ts,
        |         greatest(min(cum) OVER (PARTITION BY key ORDER BY ts, id
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 0) AS env
        |       FROM c1),
        |pay AS (
        |  SELECT key, id AS pay_id,
        |         env - coalesce(lag(env) OVER (PARTITION BY key ORDER BY ts, id), 0) AS pc,
        |         env AS pay_hi
        |  FROM c2),
        |inv AS (
        |  SELECT o_custkey AS key, o_orderkey AS inv_id,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS ic,
        |         sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           OVER (PARTITION BY o_custkey
        |                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS inv_hi
        |  FROM orders WHERE o_orderstatus IN ('O', 'P')),
        |alloc AS (
        |  SELECT i.key, i.inv_id,
        |         least(i.inv_hi, p.pay_hi) - greatest(i.inv_hi - i.ic, p.pay_hi - p.pc) AS a
        |  FROM inv i JOIN pay p ON i.key = p.key
        |  WHERE least(i.inv_hi, p.pay_hi) - greatest(i.inv_hi - i.ic, p.pay_hi - p.pc) > 0),
        |agg AS (SELECT key, inv_id, CAST(sum(a) AS BIGINT) AS paid_cents,
        |               CAST(count(*) AS BIGINT) AS n_payments
        |        FROM alloc GROUP BY key, inv_id)
        |SELECT i.key, i.inv_id, i.ic AS inv_cents,
        |       COALESCE(g.paid_cents, 0) AS paid_cents,
        |       i.ic - COALESCE(g.paid_cents, 0) AS outstanding_cents,
        |       COALESCE(g.n_payments, 0) AS n_payments,
        |       CASE WHEN i.ic - COALESCE(g.paid_cents, 0) <= 0 THEN 'PAID'
        |            WHEN COALESCE(g.paid_cents, 0) > 0 THEN 'PARTIAL'
        |            ELSE 'OPEN' END AS status
        |FROM inv i LEFT JOIN agg g ON g.key = i.key AND g.inv_id = i.inv_id""".stripMargin,
    "q160_benford_verdict" ->
      """WITH c AS (
        |  SELECT o_orderpriority AS grp,
        |         CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |g AS (SELECT grp, digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY grp, digit),
        |t AS (SELECT grp, digit, n, sum(n) OVER (PARTITION BY grp) AS tot FROM g),
        |e AS (SELECT grp, digit, n,
        |        CAST((1000000 * n) // tot AS BIGINT) AS obs_ppm,
        |        CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
        |                        WHEN 3 THEN 124939 WHEN 4 THEN 96910
        |                        WHEN 5 THEN 79181 WHEN 6 THEN 66947
        |                        WHEN 7 THEN 57992 WHEN 8 THEN 51153
        |                        WHEN 9 THEN 45757 END AS BIGINT) AS exp_ppm
        |      FROM t),
        |s AS (SELECT grp, CAST(sum(n) AS BIGINT) AS n,
        |        sum(abs(obs_ppm - exp_ppm)) AS devp, sum(exp_ppm) AS expp
        |      FROM e GROUP BY grp)
        |SELECT grp, n,
        |       CAST((devp + (1000000 - expp)) // 9 AS BIGINT) AS mad_ppm,
        |       CASE WHEN (devp + (1000000 - expp)) // 9 <= 6000 THEN 'CLOSE'
        |            WHEN (devp + (1000000 - expp)) // 9 <= 12000 THEN 'ACCEPTABLE'
        |            WHEN (devp + (1000000 - expp)) // 9 <= 15000 THEN 'MARGINAL'
        |            ELSE 'NONCONFORMING' END AS verdict
        |FROM s""".stripMargin,
    "q161_collections_e2e" ->
      ("""SELECT key, worst_days_past_due, total_open_cents, ladder_action,
        |       eligible, next_action, ordinal,
        |       CAST((ordinal - 1) // 100 + 1 AS BIGINT) AS wave
        |FROM (SELECT *,
        |        CAST(row_number() OVER (ORDER BY worst_days_past_due DESC,
        |                                total_open_cents DESC, key ASC) AS BIGINT) AS ordinal
        |      FROM (
        |""".stripMargin + Q155DunningSql + """
        |) dun
        |      WHERE next_action NOT IN ('NONE', 'HOLD')) r""".stripMargin),
    "q137_contact_policy" ->
      """WITH hist AS (SELECT user_id AS key,
        |                CAST(sum(CASE WHEN ts > TIMESTAMP '2024-01-25 00:00:00' - INTERVAL 7 DAY
        |                              THEN 1 ELSE 0 END) AS BIGINT) AS n_window,
        |                CAST(floor(epoch(max(ts))) AS BIGINT) AS last_epoch
        |              FROM events
        |              WHERE ts <= TIMESTAMP '2024-01-25 00:00:00'
        |              GROUP BY user_id),
        |j AS (SELECT c.c_custkey AS key,
        |        COALESCE(h.n_window, 0) AS n_window,
        |        COALESCE((CAST(floor(epoch(TIMESTAMP '2024-01-25 00:00:00')) AS BIGINT)
        |                  - h.last_epoch) // 3600, -1) AS hours_since_last
        |      FROM customer c LEFT JOIN hist h ON h.key = c.c_custkey)
        |SELECT key, CAST(n_window AS BIGINT) AS n_window,
        |       CAST(hours_since_last AS BIGINT) AS hours_since_last,
        |       CAST(CASE WHEN n_window < 16
        |                  AND (hours_since_last = -1 OR hours_since_last >= 12)
        |             THEN 1 ELSE 0 END AS BIGINT) AS eligible
        |FROM j""".stripMargin,
    "q136_fulfillment_sla" ->
      """WITH days AS (SELECT o.o_orderpriority AS grp,
        |                greatest(0, date_diff('day', CAST(o.o_orderdate AS DATE),
        |                                      CAST(max(l.l_shipdate) AS DATE))) AS v
        |              FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |              GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate),
        |h AS (SELECT grp, CAST(v AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS n
        |      FROM days GROUP BY 1, 2),
        |c AS (SELECT grp, v, n,
        |        sum(n) OVER (PARTITION BY grp ORDER BY v) AS cum,
        |        sum(n) OVER (PARTITION BY grp) AS tot
        |      FROM h)
        |SELECT grp AS priority, CAST(max(tot) AS BIGINT) AS n_orders,
        |       CAST(min(CASE WHEN cum >= (50 * tot + 99) // 100 THEN v END) AS BIGINT) AS p50_days,
        |       CAST(min(CASE WHEN cum >= (90 * tot + 99) // 100 THEN v END) AS BIGINT) AS p90_days
        |FROM c GROUP BY grp""".stripMargin,
    "q133_quorum" ->
      """WITH base AS (SELECT CAST(o_orderkey AS BIGINT) AS key,
        |                o_orderstatus, o_orderpriority
        |              FROM orders),
        |crm AS (SELECT key, o_orderstatus AS st, o_orderpriority AS pr FROM base),
        |billing AS (SELECT key,
        |              CASE WHEN key % 10 = 0
        |                THEN (CASE WHEN o_orderstatus = 'F' THEN 'O' ELSE 'F' END)
        |                ELSE o_orderstatus END AS st,
        |              o_orderpriority AS pr FROM base),
        |wh AS (SELECT key, o_orderstatus AS st,
        |         CASE WHEN key % 7 = 0 THEN NULL ELSE o_orderpriority END AS pr
        |       FROM base),
        |u AS (SELECT * FROM crm UNION ALL SELECT * FROM billing
        |      UNION ALL SELECT * FROM wh),
        |v AS (SELECT key, 'o_orderstatus' AS field, st AS value FROM u WHERE st IS NOT NULL
        |      UNION ALL
        |      SELECT key, 'o_orderpriority', pr FROM u WHERE pr IS NOT NULL),
        |vc AS (SELECT key, field, value, CAST(count(*) AS BIGINT) AS votes
        |       FROM v GROUP BY 1, 2, 3),
        |w AS (SELECT *,
        |        row_number() OVER (PARTITION BY key, field ORDER BY votes DESC, value ASC) AS rn,
        |        CAST(sum(votes) OVER (PARTITION BY key, field) AS BIGINT) AS n_votes_cast
        |      FROM vc)
        |SELECT key, field, value AS winner, votes, n_votes_cast,
        |       CAST(CASE WHEN votes < n_votes_cast THEN 1 ELSE 0 END AS BIGINT) AS disputed
        |FROM w WHERE rn = 1""".stripMargin,
    "q127_concurrency" ->
      """WITH iv AS (SELECT CAST(o.o_orderdate AS DATE) AS s,
        |              greatest(CAST(max(l.l_shipdate) AS DATE),
        |                       CAST(o.o_orderdate AS DATE)) AS e
        |            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |            GROUP BY o.o_orderkey, o.o_orderdate),
        |st AS (SELECT s AS d, CAST(count(*) AS BIGINT) AS n_start FROM iv GROUP BY s),
        |fr AS (SELECT e + INTERVAL 1 DAY AS d, CAST(count(*) AS BIGINT) AS n_freed
        |       FROM iv GROUP BY 1),
        |m AS (SELECT COALESCE(st.d, CAST(fr.d AS DATE)) AS d,
        |        COALESCE(st.n_start, 0) AS n_start,
        |        COALESCE(fr.n_freed, 0) AS n_freed
        |      FROM st FULL OUTER JOIN fr ON CAST(fr.d AS DATE) = st.d)
        |SELECT strftime(d, '%Y-%m-%d') AS day,
        |       CAST(n_start AS BIGINT) AS n_start,
        |       CAST(n_freed AS BIGINT) AS n_freed,
        |       CAST(sum(n_start - n_freed) OVER (ORDER BY d) AS BIGINT) AS active
        |FROM m""".stripMargin,
    "q128_seasonality" ->
      """WITH daily AS (SELECT event_type AS grp, CAST(ts AS DATE) AS d,
        |                 CAST(count(*) AS BIGINT) AS n
        |               FROM events GROUP BY 1, 2),
        |dd AS (SELECT grp, d, n, CAST(dayofweek(d) + 1 AS BIGINT) AS dow FROM daily),
        |bydow AS (SELECT grp, dow, CAST(count(*) AS BIGINT) AS n_days,
        |            CAST(sum(n) AS BIGINT) AS n_events
        |          FROM dd GROUP BY 1, 2),
        |tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS dd_n,
        |          CAST(sum(n) AS BIGINT) AS s
        |        FROM dd GROUP BY grp)
        |SELECT b.grp, b.dow, b.n_days, b.n_events,
        |       CAST((CAST(1000000 AS HUGEINT) * b.n_events * t.dd_n)
        |         // (CAST(t.s AS HUGEINT) * b.n_days) AS BIGINT) AS idx_ppm
        |FROM bydow b JOIN tot t ON t.grp = b.grp""".stripMargin,
    "q129_ab_test" ->
      """WITH u AS (SELECT user_id,
        |             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ok
        |           FROM events GROUP BY user_id),
        |a AS (SELECT CAST(user_id % 2 AS BIGINT) AS v,
        |        CAST(count(*) AS BIGINT) AS n, CAST(sum(ok) AS BIGINT) AS c
        |      FROM u GROUP BY 1),
        |p AS (SELECT x.v AS variant_a, x.n AS n_a, x.c AS c_a,
        |        y.v AS variant_b, y.n AS n_b, y.c AS c_b
        |      FROM a x JOIN a y ON x.v < y.v),
        |z AS (SELECT *,
        |        CAST(CASE WHEN (c_a + c_b) = 0 OR (c_a + c_b) = (n_a + n_b) THEN 0
        |          ELSE (CAST(1000000 AS HUGEINT)
        |                 * (c_a * n_b - c_b * n_a) * (c_a * n_b - c_b * n_a) * (n_a + n_b))
        |            // (CAST(n_a AS HUGEINT) * n_b * (c_a + c_b) * (n_a + n_b - c_a - c_b))
        |          END AS BIGINT) AS z2_ppm
        |      FROM p)
        |SELECT variant_a, variant_b, n_a, c_a, n_b, c_b, z2_ppm,
        |       CAST(CASE WHEN z2_ppm >= 3841459 THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM z""".stripMargin,
    "q110_skyline" ->
      """WITH p AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS sz,
        |             -CAST(round(p_retailprice * 100) AS BIGINT) AS neg_cents
        |           FROM part)
        |SELECT p_partkey, sz, neg_cents FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.sz >= a.sz AND b.neg_cents >= a.neg_cents
        |    AND (b.sz > a.sz OR b.neg_cents > a.neg_cents))""".stripMargin,
    "q104_expectations" ->
      """WITH m AS (SELECT
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(o_custkey) AS BIGINT) AS m_complete,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS m_distinct,
        |    CAST(count(CASE WHEN o_totalprice BETWEEN 1000.0 AND 400000.0 THEN 1 END) AS BIGINT) AS m_range,
        |    CAST(count(CASE WHEN o_orderstatus IN ('F','O') THEN 1 END) AS BIGINT) AS m_set,
        |    CAST(count(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 1 END) AS BIGINT) AS m_re
        |  FROM orders),
        |v AS (
        |  SELECT 'complete(o_custkey)' AS check_name,
        |         CAST((1000000 * m_complete) // n AS BIGINT) AS metric_q,
        |         CAST(1000000 AS BIGINT) AS threshold_q FROM m
        |  UNION ALL SELECT 'distinct(o_orderkey)',
        |         CAST((1000000 * m_distinct) // n AS BIGINT), CAST(1000000 AS BIGINT) FROM m
        |  UNION ALL SELECT 'in_range(o_totalprice)',
        |         CAST((1000000 * m_range) // n AS BIGINT), CAST(750000 AS BIGINT) FROM m
        |  UNION ALL SELECT 'in_set(o_orderstatus)',
        |         CAST((1000000 * m_set) // n AS BIGINT), CAST(1000000 AS BIGINT) FROM m
        |  UNION ALL SELECT 'matches(o_orderpriority)',
        |         CAST((1000000 * m_re) // n AS BIGINT), CAST(1000000 AS BIGINT) FROM m
        |  UNION ALL SELECT 'min_rows', n, CAST(1000 AS BIGINT) FROM m)
        |SELECT check_name, metric_q, threshold_q,
        |       metric_q >= threshold_q AS passed FROM v""".stripMargin,
    "q99_attribution" ->
      """WITH e AS (SELECT event_id, user_id,
        |             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
        |             event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |c AS (SELECT event_id AS conv_id, user_id, us AS conv_us, cents
        |      FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS touch_id, user_id, us AS touch_us, event_type AS touch_type
        |      FROM e WHERE event_type IN ('view', 'click')),
        |p AS (SELECT c.conv_id, c.user_id, c.conv_us, c.cents,
        |             t.touch_id, t.touch_type, t.touch_us
        |      FROM c JOIN t ON t.user_id = c.user_id
        |       AND t.touch_us >= c.conv_us - 259200000000 AND t.touch_us <= c.conv_us),
        |r AS (SELECT p.*,
        |        row_number() OVER (PARTITION BY conv_id ORDER BY touch_us DESC, touch_id DESC) AS rl,
        |        row_number() OVER (PARTITION BY conv_id ORDER BY touch_us ASC, touch_id ASC) AS rf
        |      FROM p)
        |SELECT conv_id, user_id, conv_us, cents, CAST(count(*) AS BIGINT) AS n_touches,
        |       max(CASE WHEN rl = 1 THEN touch_id END) AS last_touch_id,
        |       max(CASE WHEN rl = 1 THEN touch_type END) AS last_touch_type,
        |       max(CASE WHEN rl = 1 THEN touch_us END) AS last_touch_us,
        |       max(CASE WHEN rf = 1 THEN touch_id END) AS first_touch_id,
        |       max(CASE WHEN rf = 1 THEN touch_type END) AS first_touch_type,
        |       max(CASE WHEN rf = 1 THEN touch_us END) AS first_touch_us
        |FROM r GROUP BY conv_id, user_id, conv_us, cents""".stripMargin,
    "q87_fingerprint" ->
      """WITH h AS (SELECT md5(concat_ws(chr(1),
        |    coalesce(CAST(c_custkey AS VARCHAR), chr(0)),
        |    coalesce(c_name, chr(0)),
        |    coalesce(c_mktsegment, chr(0)))) AS hex FROM customer),
        |v AS (SELECT CAST(
        |    (instr('0123456789abcdef', substr(hex,1,1))-1)*268435456
        |  + (instr('0123456789abcdef', substr(hex,2,1))-1)*16777216
        |  + (instr('0123456789abcdef', substr(hex,3,1))-1)*1048576
        |  + (instr('0123456789abcdef', substr(hex,4,1))-1)*65536
        |  + (instr('0123456789abcdef', substr(hex,5,1))-1)*4096
        |  + (instr('0123456789abcdef', substr(hex,6,1))-1)*256
        |  + (instr('0123456789abcdef', substr(hex,7,1))-1)*16
        |  + (instr('0123456789abcdef', substr(hex,8,1))-1) AS BIGINT) AS hv FROM h)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(hv) % 9223372036854775783 AS BIGINT) AS fp_sum,
        |       CAST(bit_xor(hv) AS BIGINT) AS fp_xor
        |FROM v""".stripMargin,
    "q86_incr_agg" ->
      """WITH n AS (SELECT c_custkey,
        |             CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment,
        |             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
        |      FROM customer WHERE c_custkey % 10 <> 7)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(c_acctbal), 2) AS sum_bal
        |FROM n GROUP BY 1""".stripMargin,
    "q69_snapshot_diff" ->
      """WITH o AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
        |           FROM customer WHERE c_custkey % 10 <> 3),
        |n AS (SELECT c_custkey AS k,
        |             CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS seg,
        |             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS bal
        |      FROM customer WHERE c_custkey % 10 <> 7),
        |j AS (SELECT o.k AS ok, n.k AS nk, o.seg AS oseg, o.bal AS obal,
        |             n.seg AS nseg, n.bal AS nbal
        |      FROM o FULL JOIN n ON o.k = n.k),
        |t AS (SELECT *,
        |        CASE WHEN ok IS NULL THEN 'added'
        |             WHEN nk IS NULL THEN 'removed'
        |             WHEN oseg IS DISTINCT FROM nseg
        |               OR obal IS DISTINCT FROM nbal THEN 'changed'
        |             ELSE 'unchanged' END AS change_type
        |      FROM j)
        |SELECT COALESCE(nk, ok) AS c_custkey, change_type,
        |       CASE WHEN change_type = 'changed' THEN concat_ws(',',
        |              CASE WHEN oseg IS DISTINCT FROM nseg THEN 'c_mktsegment' END,
        |              CASE WHEN obal IS DISTINCT FROM nbal THEN 'c_acctbal' END)
        |            ELSE '' END AS changed_cols,
        |       COALESCE(nseg, oseg) AS c_mktsegment,
        |       round(COALESCE(nbal, obal), 2) AS c_acctbal
        |FROM t WHERE change_type <> 'unchanged'""".stripMargin,
    "q73_concentration" ->
      """WITH u AS (
        |  SELECT 'c_mktsegment' AS "column", CAST(c_mktsegment AS VARCHAR) AS val
        |  FROM customer WHERE c_mktsegment IS NOT NULL
        |  UNION ALL
        |  SELECT 'c_nationkey' AS "column", CAST(c_nationkey AS VARCHAR) AS val
        |  FROM customer WHERE c_nationkey IS NOT NULL),
        |c AS (SELECT "column", val, count(*) AS n FROM u GROUP BY 1, 2)
        |SELECT "column", CAST(sum(n) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       CAST((sum(n) * sum(n) - sum(n * n)) * 10000
        |            // (sum(n) * sum(n)) AS BIGINT) AS gini_bp
        |FROM c GROUP BY 1""".stripMargin,
    "q70_melt" ->
      """SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS attr, CAST(p_retailprice AS DOUBLE) AS val FROM part""".stripMargin,
    "q71_pivot_wide" ->
      """SELECT user_id,
        |  CAST(floor(sum(CASE WHEN event_type = 'click' THEN value END) * 100 + 0.50001) AS BIGINT) AS click_cents,
        |  CAST(floor(sum(CASE WHEN event_type = 'error' THEN value END) * 100 + 0.50001) AS BIGINT) AS error_cents,
        |  CAST(floor(sum(CASE WHEN event_type = 'purchase' THEN value END) * 100 + 0.50001) AS BIGINT) AS purchase_cents,
        |  CAST(floor(sum(CASE WHEN event_type = 'signup' THEN value END) * 100 + 0.50001) AS BIGINT) AS signup_cents,
        |  CAST(floor(sum(CASE WHEN event_type = 'view' THEN value END) * 100 + 0.50001) AS BIGINT) AS view_cents
        |FROM events WHERE user_id IS NOT NULL GROUP BY user_id""".stripMargin,
    "q40_range_join" ->
      """WITH e AS (SELECT event_id, user_id,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec FROM events)
        |SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
        |       CAST(abs(a.sec - b.sec) AS BIGINT) AS gap_s
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(a.sec - b.sec) <= 3600""".stripMargin,
    "q43_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q47_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) * 25000 AS bucket_lo,
        |       count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "q48_running_total" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS dt,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders""".stripMargin,
    "q49_daily_delta" ->
      """WITH d AS (SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS dia,
        |                  count(*) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, dia, n,
        |       CAST(n - coalesce(lag(n, 1) OVER (PARTITION BY event_type ORDER BY dia), 0) AS BIGINT) AS delta
        |FROM d""".stripMargin,
    "q50_rollup" ->
      """SELECT n_name, c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)""".stripMargin,
    "q51_set_ops" ->
      """WITH e AS (SELECT DISTINCT user_id AS id FROM events),
        |o AS (SELECT DISTINCT o_custkey AS id FROM orders)
        |SELECT id, 'events_only' AS tag FROM (SELECT id FROM e EXCEPT SELECT id FROM o) x
        |UNION ALL
        |SELECT id, 'both' AS tag FROM (SELECT id FROM e INTERSECT SELECT id FROM o) y""".stripMargin,
    "q54_column_values" ->
      """WITH stacked AS (
        |  SELECT 'c_mktsegment' AS col_name, c_mktsegment AS value FROM customer
        |  UNION ALL SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
        |  UNION ALL SELECT 'c_name', c_name FROM customer
        |), counts AS (
        |  SELECT col_name, value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM stacked WHERE value IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT col_name, value, cnt
        |FROM (SELECT *, row_number() OVER (PARTITION BY col_name ORDER BY cnt DESC, value ASC) AS rk
        |      FROM counts)
        |WHERE rk <= 5""".stripMargin,
  )
}
