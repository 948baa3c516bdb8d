package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators._
import graft.functions.BrFormats

/** End-to-end analog of the reference mailing pipeline
  * (`/root/reference/main.py` stages 1-4), on the test schema: customers are
  * mailing clients, orders are open invoices, events are the disposition
  * (tabulação) log.
  *
  * Stage order mirrors the reference: blocklist → dedup → per-key aggregates
  * → enrichment → flag → status filter → layout → priority → segmentation.
  * Every keyed stage shares the customer-key partitioning. Only the
  * genuinely bounded nation dim carries a broadcast hint; the blocked-key
  * set ([[Blocklist.removeByStatusThreshold]]) and the
  * customer-cardinality frames (debts, contacts) are left to the planner,
  * which broadcasts them when estimated or measured small.
  */
object MailingPipeline {

  final case class Result(human: DataFrame, robot: DataFrame, rejected: DataFrame, report: StageReport)

  val CanonicalColumns: Seq[String] = Seq(
    "NOME_CLIENTE", "PRODUTO", "CPF", "parcelasEmAtrado", "LOCALIDADE",
    "valorDivida", "Cliente_Regulariza",
    "CONTATO_01", "CONTATO_02", "CONTATO_03", "CONTATO_04",
    "Data_de_Importacao", "priority_level", "segmento")

  def full(spark: SparkSession, sfDir: String, humanCutoff: Double = 1500000.0): Result =
    full(spark, sfDir, GraftConfig.default.copy(humanCutoff = humanCutoff))

  /** Config-driven form — status sets, thresholds, cutoff, priority order
    * and export columns all come from the [[GraftConfig]] (the reference's
    * `config.ini` surface). Every output stays one lazy plan over the
    * source tables. */
  def full(spark: SparkSession, sfDir: String, config: GraftConfig): Result =
    full(spark, sfDir, config, identity[DataFrame])

  /** As above, with `cut` applied to `flagged` — the last frame that the
    * human, robot and rejected outputs all derive from. A caller that
    * writes all three passes [[Checkpoints.materializeOnce]] so the shared
    * upstream (blocklist, dedup, debt aggregates, top-4 contacts, joins)
    * runs once instead of once per output; the `blocklist` and
    * `aggregates` counts then fire during that cut. */
  def full(spark: SparkSession, sfDir: String, config: GraftConfig,
           cut: DataFrame => DataFrame): Result = {
    val report = new StageReport
    val customer = Tables.customer(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    val events = Tables.events(spark, sfDir)
    val nation = Tables.nation(spark, sfDir)

    // Stage: blocklist (≥3 critical dispositions → out); blocklist side broadcasts
    val afterBlock = report.track("blocklist",
      Blocklist.removeByStatusThreshold(customer, col("c_custkey"),
        events, col("user_id"), col("event_type"), config.criticalStatuses, config.blockThreshold))

    // Stage: smart dedup by client key (no-op on clean input, still exercised)
    val deduped = Dedup.preferNonNull(afterBlock, col("c_custkey"), col("c_name"),
      Seq(col("c_acctbal").desc))

    // Stage: per-client invoice totals (window agg on orders, then broadcast-join
    // the per-key result: orders >> customers, so aggregate before joining)
    val debts = orders.groupBy(col("o_custkey"))
      .agg(round(sum("o_totalprice"), 2).as("valorDivida"),
        count(lit(1)).as("parcelasEmAtrado"),
        date_format(max("o_orderdate"), "yyyy-MM-dd").as("ultima_fatura"))
    val withDebts = report.track("aggregates",
      deduped.join(debts, col("c_custkey") === col("o_custkey"), "left")
        .drop("o_custkey")
        .na.fill(0.0, Seq("valorDivida")).na.fill(0L, Seq("parcelasEmAtrado")))

    // Stage: enrichment — top-4 invoice ids per client as contact slots.
    // NO broadcast hint here: `contacts` has one row per customer — the same
    // cardinality as the mailing table itself — so broadcasting it is a
    // driver/executor OOM at corpus scale. Both sides hash-partition on the
    // customer key (the window/dedup stages upstream already produced that
    // partitioning), so the sort-merge/shuffle-hash join co-locates cheaply
    // and AQE still converts to broadcast at runtime when the measured size
    // happens to be small.
    val contacts = TopK.topKWide(orders, col("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 4,
      Seq("CONTATO" -> col("o_orderkey").cast("string")), keyName = "contact_key")
    val enriched = withDebts.join(contacts,
      col("c_custkey") === col("contact_key"), "left").drop("contact_key")

    // Stage: conditional flag
    val flagged = cut(enriched.withColumn("Cliente_Regulariza",
      when(col("ultima_fatura") < "1997-06-01", lit("SIM")).otherwise(lit("NÃO"))))

    // Stage: status filter with rejected side-output
    val (kept, rejected) = Blocklist.filterWithRejects(flagged, col("c_mktsegment"), config.statusesToRemove)
    val filtered = report.track("status_filter", kept)

    // Stage: localization join (tiny dim → broadcast) + layout
    val located = filtered.join(broadcast(nation), col("c_nationkey") === col("n_nationkey"), "left")
    val laidOut = Layout.applyLayout(
      located
        .withColumn("Data_de_Importacao", BrFormats.brDate(current_date()))
        .withColumnRenamed("n_name", "LOCALIDADE"),
      renames = Map(
        "c_name" -> "NOME_CLIENTE", "c_mktsegment" -> "PRODUTO", "c_custkey" -> "CPF",
        "CONTATO_1" -> "CONTATO_01", "CONTATO_2" -> "CONTATO_02",
        "CONTATO_3" -> "CONTATO_03", "CONTATO_4" -> "CONTATO_04"),
      canonical = CanonicalColumns)
      .withColumn("priority_level", Prioritize.priorityLevel(
        Seq(col("PRODUTO")), config.priorityOrder))

    // Stage: segmentation
    val (human, robot) = Segmentation.splitByThreshold(laidOut, col("valorDivida"), config.humanCutoff)
    Result(
      human.withColumn("segmento", lit("HUMANO")).select(config.exportColumns.map(col): _*),
      robot.withColumn("segmento", lit("ROBO")).select(config.exportColumns.map(col): _*),
      rejected.select(col("c_custkey").as("CPF"), col("c_name").as("NOME_CLIENTE"), col("motivo_remocao")),
      report)
  }

  /** Flagship entry: the human mailing at sf0.001. */
  def run(spark: SparkSession, sfDir: String): DataFrame =
    full(spark, sfDir, humanCutoff = 0.0).human
}
