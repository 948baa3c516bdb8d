package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints
import graft.pipeline.{GraftConfig, MailingPipeline, RunLog}
import graft.sinks.{Archiver, BrCsvSink}
import graft.state.StateStore

/** End-to-end mailing run, the engine's analog of the reference's
  * `main.py`: process → export per-product human CSVs + per-TIME-SLOT
  * robot CSVs (the `gerador_robo_mestre` grouping) → copy the run log
  * into the archive folder (`compressor.py:98`) → zip → persist run
  * state.
  *
  * Pass structure: the upstream shared by all three outputs (blocklist,
  * dedup, debt aggregates, top-4 contacts, joins, flag) is materialized
  * ONCE, then the human, robot and rejected writes each scan that copy.
  * Every count comes from an action that already runs: the human and
  * robot counts from an `Observation` on each write (what a re-read of
  * the CSVs would count), the `blocklist`/`aggregates` stage counts from
  * the materialization and `status_filter` from the first write — no
  * re-read and no extra counting pass.
  *
  * On failure the run saves FAILED state, logs the stack trace to the
  * run log, prints the reference's operator-facing message (`main.py:21`
  * MSG_COBRANCA_ERRO) and exits 1 — the operator never sees a raw
  * traceback on stdout. Usage: `sbt "runMain graft.RunMailing
  * <sfDir> <outDir> [config.ini]"` — the optional INI config drives
  * status sets, thresholds, cutoff and the product→slot groups. */
object RunMailing {

  /** `main.py:21` — what the COLLECTIONS OPERATOR sees on failure. */
  val OperatorFailureMessage: String =
    "FALHA NA AUTOMAÇÃO: Erro inesperado. Verifique o log para detalhes."

  final case class Summary(human: Long, robot: Long, zipEntries: Int,
                           stages: Seq[(String, Long)], logPath: String)

  /** The full orchestration against a CALLER-OWNED session — separable
    * from `main` so the e2e spec drives it without forking a JVM. The
    * run log lands INSIDE `$outDir/human` before zipping, so the archive
    * carries the log of the run that produced it. */
  def execute(spark: SparkSession, sfDir: String, outDir: String,
              config: GraftConfig, state: StateStore): Summary = {
    val log = new RunLog(s"$outDir/logs")
    try {
      log.info("=" * 30 + " INICIO DO PROCESSO DE AUTOMACAO " + "=" * 30)
      val r = MailingPipeline.full(spark, sfDir, config, Checkpoints.materializeOnce)

      val human = BrCsvSink.polish(r.human,
        moneyCols = Seq("valorDivida"),
        idCols = Seq("CPF", "CONTATO_01", "CONTATO_02", "CONTATO_03", "CONTATO_04"),
        textCols = Seq("NOME_CLIENTE", "Cliente_Regulariza"))
      val nHuman = BrCsvSink.writePartitioned(human, s"$outDir/human", "PRODUTO", sep = ";")
      log.info(s"Exportacao humana concluida em $outDir/human")

      val robot = BrCsvSink.polish(r.robot, moneyCols = Seq("valorDivida"), idCols = Seq("CPF"))
      val nRobot =
        if (config.slotGroups.nonEmpty)
          BrCsvSink.writeBySlots(robot, col("PRODUTO"), config.slotGroups, s"$outDir/robot", sep = "|")
        else
          BrCsvSink.writePartitioned(robot, s"$outDir/robot", "PRODUTO", sep = "|")
      log.info(s"Exportacao robo concluida em $outDir/robot")

      r.rejected.coalesce(1).write.mode("overwrite")
        .option("header", "true").option("sep", ";").csv(s"$outDir/rejected")

      r.report.awaitAll()
      val stageCounts = r.report.results
      val missing = r.report.names.filterNot(stageCounts.map(_._1).toSet)
      if (missing.nonEmpty) log.warn(s"Etapas sem contagem: ${missing.mkString(",")}")
      log.info(s"Contagens: human=$nHuman robot=$nRobot")

      // compressor.py:98 — the run log travels into the archived folder
      // BEFORE compression, so the zip carries it.
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(log.path),
        java.nio.file.Paths.get(s"$outDir/human/${new java.io.File(log.path).getName}"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val entries = Archiver.zipDirectory(s"$outDir/human", s"$outDir/mailing_human.zip")
      log.info(s"Arquivo comprimido com $entries entradas")

      state.saveSuccess(Map("human" -> nHuman, "robot" -> nRobot, "zip_entries" -> entries.toLong))
      log.info("=" * 30 + " PROCESSO CONCLUIDO COM SUCESSO " + "=" * 30)
      Summary(nHuman, nRobot, entries, stageCounts, log.path)
    } catch {
      case e: Throwable =>
        log.error(s"ERRO CRITICO NO FLUXO PRINCIPAL: ${e.getMessage}", e)
        state.saveFailure(e.getMessage)
        throw e
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession.local("graft-mailing", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val state = new StateStore(s"$outDir/state.json")
    try {
      val config = args.drop(2).headOption.map(GraftConfig.fromFile).getOrElse(
        GraftConfig.default.copy(
          humanCutoff = 1500000.0,
          // test-schema analog of [ROBO] grupos_08hrs/09hrs/10hrs
          slotGroups = scala.collection.immutable.ListMap(
            "08HRS" -> Seq("BUILDING", "MACHINERY"),
            "09HRS" -> Seq("HOUSEHOLD"),
            "10HRS" -> Seq("FURNITURE"))))
      val s = execute(spark, sfDir, outDir, config, state)
      println(s"STAGES=${s.stages.map { case (n, c) => s"$n:$c" }.mkString(",")}")
      println(s"HUMAN=${s.human} ROBOT=${s.robot} ZIP_ENTRIES=${s.zipEntries}")
      println(s"STATE=${state.status.getOrElse("?")} METRICS=${state.lastMetrics.toSeq.sorted.mkString(",")}")
    } catch {
      case e: Throwable =>
        // main.py:94 — friendly message to the operator on stdout; the
        // detail goes to stderr AND the state file, so a failure BEFORE
        // execute() builds its run log (e.g. a malformed config.ini)
        // still leaves diagnostics somewhere findable. execute()'s own
        // failures already saved the same state — the re-save is
        // idempotent.
        System.err.println(s"ERRO CRITICO: ${e.getMessage}")
        state.saveFailure(e.getMessage)
        println(OperatorFailureMessage)
        spark.stop()
        sys.exit(1)
    } finally spark.stop()
  }
}
