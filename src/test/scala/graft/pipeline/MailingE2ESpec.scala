package graft.pipeline

import graft.SparkSpec
import graft.operators.Audit
import graft.sinks.{Archiver, BrCsvSink}
import graft.sources.Tables
import graft.state.StateStore
import org.apache.spark.sql.Observation
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The reference's `main.py` flow as ONE green case: pipeline → per-product
  * human export + per-slot robot export → laudo-style forbidden-value audit
  * → zip archive → run-state metrics, with the blocklist / priority / slot
  * invariants re-derived INDEPENDENTLY from the source tables (not from the
  * pipeline's own intermediates) and asserted on the exported artifacts.
  * The pieces each have their own spec; this is the proof the chain
  * composes.
  */
class MailingE2ESpec extends SparkSpec {
  import ss.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** The three-slot daily config the `RunMailing.execute` cases share. */
  private val slotConfig = GraftConfig.default.copy(humanCutoff = 1500000.0,
    slotGroups = ListMap("08HRS" -> Seq("BUILDING", "MACHINERY"),
      "09HRS" -> Seq("HOUSEHOLD"), "10HRS" -> Seq("FURNITURE")))

  test("mailing chain: pipeline -> exports -> audit -> archive -> state") {
    val out = java.nio.file.Files.createTempDirectory("mailing-e2e").toString
    val config = GraftConfig.default.copy(
      humanCutoff = 1500000.0,
      slotGroups = ListMap(
        "08HRS" -> Seq("BUILDING", "MACHINERY"),
        "09HRS" -> Seq("HOUSEHOLD"),
        "10HRS" -> Seq("FURNITURE")))
    val r = MailingPipeline.full(ss, sfDir, config)
    val human = r.human.localCheckpoint(true)
    val robot = r.robot.localCheckpoint(true)

    // --- Blocklist invariant, re-derived from the raw events log ---
    val blocked = Tables.events(ss, sfDir)
      .filter(lower(trim(col("event_type"))) === "error")
      .groupBy("user_id").count().filter(col("count") >= 3)
      .select(col("user_id")).as[Long].collect().toSet
    assert(blocked.nonEmpty, "sf0.001 must contain blockable customers or the test is vacuous")
    val humanKeys = human.select(col("CPF").cast("long")).as[Long].collect().toSet
    val robotKeys = robot.select(col("CPF").cast("long")).as[Long].collect().toSet
    assert(humanKeys.intersect(blocked).isEmpty, "blocked customers leaked into the human mailing")
    assert(robotKeys.intersect(blocked).isEmpty, "blocked customers leaked into the robot mailing")
    assert(humanKeys.intersect(robotKeys).isEmpty, "segmentation split must be a partition")

    // --- Status-filter invariant: no removed status in any export ---
    assert(human.unionByName(robot)
      .filter(lower(col("PRODUTO")).isin(config.statusesToRemove.toSeq: _*))
      .isEmpty, "statusesToRemove must never reach an export")
    assert(r.rejected.count() > 0, "sf0.001 has AUTOMOBILE customers; rejected must be non-empty")

    // --- Priority invariant: level == index in the configured order ---
    val prioMismatch = human.unionByName(robot)
      .select("PRODUTO", "priority_level").as[(String, Int)].collect()
      .filter { case (p, l) =>
        val idx = config.priorityOrder.indexOf(p)
        l != (if (idx < 0) config.priorityOrder.length else idx)
      }
    assert(prioMismatch.isEmpty, s"priority levels off: ${prioMismatch.take(5).toSeq}")

    // --- Segmentation invariant on the raw (pre-format) debt column ---
    assert(human.filter(col("valorDivida") < config.humanCutoff).isEmpty,
      "human segment must be at/above the cutoff")
    assert(robot.filter(col("valorDivida") >= config.humanCutoff).isEmpty,
      "robot segment must be below the cutoff")

    // --- Exports (the RunMailing shapes) ---
    val humanCsv = BrCsvSink.polish(human,
      moneyCols = Seq("valorDivida"),
      idCols = Seq("CPF", "CONTATO_01", "CONTATO_02", "CONTATO_03", "CONTATO_04"),
      textCols = Seq("NOME_CLIENTE", "Cliente_Regulariza"))
    BrCsvSink.writePartitioned(humanCsv, s"$out/human", "PRODUTO", sep = ";")
    BrCsvSink.writeBySlots(
      BrCsvSink.polish(robot, moneyCols = Seq("valorDivida"), idCols = Seq("CPF")),
      col("PRODUTO"), config.slotGroups, s"$out/robot", sep = "|")

    val humanBack = ss.read.option("header", "true").option("sep", ";").csv(s"$out/human")
    assert(humanBack.count() == human.count(), "human export round-trip row count")

    // --- Slot invariant: each slot file holds only its group's products ---
    val robotBack = ss.read.option("header", "true").option("sep", "|").csv(s"$out/robot")
    val slotProducts = robotBack.select(col("slot").cast("string"), col("PRODUTO"))
      .distinct().as[(String, String)].collect()
    assert(slotProducts.nonEmpty, "robot slots must not be empty")
    slotProducts.foreach { case (slot, product) =>
      assert(config.slotGroups(slot).contains(product),
        s"product $product exported into wrong slot $slot")
    }

    // --- Laudo-style audit over the exported values ---
    val forbidden = Audit.forbiddenScan(humanBack, humanBack.columns.toSeq,
      config.statusesToRemove.map(_.toLowerCase))
    assert(forbidden.isEmpty, "audit found forbidden statuses in the exported CSVs")

    // --- Archive ---
    val entries = Archiver.zipDirectory(s"$out/human", s"$out/mailing_human.zip")
    assert(entries > 0 && java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/mailing_human.zip")))

    // --- Run state + metric deltas across two runs ---
    val state = new StateStore(s"$out/state.json")
    state.saveSuccess(Map("human" -> humanKeys.size.toLong, "robot" -> robotKeys.size.toLong))
    assert(state.status.contains("COMPLETED"))
    val first = state.lastMetrics
    assert(first("human") == humanKeys.size.toLong && first("robot") == robotKeys.size.toLong)
    state.saveSuccess(Map("human" -> (humanKeys.size + 7).toLong, "robot" -> robotKeys.size.toLong))
    val delta = state.lastMetrics("human") - first("human")
    assert(delta == 7L, s"metric delta across runs must be readable, got $delta")
    state.saveFailure("boom")
    assert(state.status.contains("FAILED"))
  }

  test("RunMailing.execute ships the run log inside the archive (compressor.py:98)") {
    val out = java.nio.file.Files.createTempDirectory("mailing-runlog").toString
    val state = new StateStore(s"$out/state.json")
    val config = GraftConfig.default.copy(humanCutoff = 1500000.0,
      slotGroups = ListMap("08HRS" -> Seq("BUILDING", "MACHINERY"),
        "09HRS" -> Seq("HOUSEHOLD"), "10HRS" -> Seq("FURNITURE")))
    val s = graft.RunMailing.execute(ss, sfDir, out, config, state)
    assert(s.human > 0 && s.zipEntries > 0 && state.status.contains("COMPLETED"))
    val zf = new java.util.zip.ZipFile(s"$out/mailing_human.zip")
    try {
      val entries = scala.jdk.CollectionConverters.EnumerationHasAsScala(zf.entries())
        .asScala.map(_.getName).toSeq
      assert(entries.exists(e => e.contains("automacao_") && e.endsWith(".log")),
        s"zip must carry the run log, got: ${entries.take(10)}")
    } finally zf.close()
    val logText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s.logPath)), "UTF-8")
    assert(logText.contains("PROCESSO CONCLUIDO COM SUCESSO"))
  }

  test("RunMailing.execute with a cutoff above every debt writes and counts no human row") {
    val out = java.nio.file.Files.createTempDirectory("mailing-nohuman").toString
    val state = new StateStore(s"$out/state.json")
    val s = graft.RunMailing.execute(ss, sfDir, out, slotConfig.copy(humanCutoff = 1e15), state)
    assert(s.human == 0L && csvRowCount(s"$out/human", ";") == 0L)
    assert(s.robot > 0 && s.robot == csvRowCount(s"$out/robot", "|"))
    assert(state.status.contains("COMPLETED") && state.lastMetrics("human") == 0L)
    assert(s.stages.map(_._1) == Seq("blocklist", "aggregates", "status_filter"))
  }

  test("RunMailing.execute without slot groups writes the robot per product and counts it") {
    val out = java.nio.file.Files.createTempDirectory("mailing-noslots").toString
    val state = new StateStore(s"$out/state.json")
    val s = graft.RunMailing.execute(ss, sfDir, out,
      GraftConfig.default.copy(humanCutoff = 1500000.0), state)
    assert(s.human > 0 && s.human == csvRowCount(s"$out/human", ";"))
    assert(s.robot > 0 && s.robot == csvRowCount(s"$out/robot", "|"))
    val robotDirs = new java.io.File(s"$out/robot").listFiles().filter(_.isDirectory).map(_.getName)
    assert(robotDirs.nonEmpty && robotDirs.forall(_.startsWith("PRODUTO=")),
      s"the robot export must be partitioned by product, got ${robotDirs.toSeq}")
    assert(state.lastMetrics == Map("human" -> s.human, "robot" -> s.robot,
      "zip_entries" -> s.zipEntries.toLong))
  }

  private def listDir(p: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(p))(_.iterator().asScala.toList).sortBy(_.toString)

  /** md5 of one export directory's CSV content: the header (identical in
    * every part file) followed by the sorted data lines, so the digest
    * does not depend on how rows were spread over part files. The
    * `Data_de_Importacao` field (`current_date`) is blanked first, as
    * q153 leaves it out of its hash. */
  private def csvDigest(dir: Path, sep: String): String = {
    val files = listDir(dir).filter(_.getFileName.toString.endsWith(".csv"))
    val texts = files.map(f => Files.readAllLines(f, java.nio.charset.StandardCharsets.UTF_8).asScala.toSeq)
    val headers = texts.flatMap(_.headOption).distinct
    assert(headers.size == 1, s"$dir: part files disagree on the header: $headers")
    val header = headers.head
    val quoted = java.util.regex.Pattern.quote(sep)
    val dateIdx = header.stripPrefix("\uFEFF").split(quoted, -1).indexOf("Data_de_Importacao")
    val rows = texts.flatMap(_.drop(1)).map { line =>
      if (dateIdx < 0) line
      else line.split(quoted, -1).updated(dateIdx, "<data>").mkString(sep)
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest((header +: rows).mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Zip entry names with the per-write part-file UUID and the run-log
    * timestamp blanked. */
  private def zipNames(zip: String): Seq[String] = {
    val zf = new java.util.zip.ZipFile(zip)
    try zf.entries().asScala.map(_.getName
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
      .replaceAll("automacao_[0-9_-]+\\.log", "automacao_<ts>.log")).toSeq.sorted
    finally zf.close()
  }

  /** One run, checked two ways. Its outputs are pinned to the values the
    * fully lazy pipeline (one plan per output) produced: every export
    * directory's CSV lines, the summary and stage counts and the zip entry
    * names. And its pass structure is guarded: a `QueryExecutionListener`
    * sees one SQL execution read `orders` and at most five in total. */
  test("RunMailing.execute runs the upstream once and its outputs are pinned") {
    val marker = "run-mailing-guard-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    def isMarker(p: LogicalPlan) = p.exists {
      case c: CollectMetrics => c.name == marker
      case _ => false
    }
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (isMarker(qe.logical)) markerSeen.countDown() else seen.add(qe)
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    val out = Files.createTempDirectory("mailing-pin").toString
    ss.listenerManager.register(listener)
    val s = try {
      val s = graft.RunMailing.execute(ss, sfDir, out, slotConfig, new StateStore(s"$out/state.json"))
      // Listener events arrive in order on an asynchronous bus: once the
      // marker action after the run is delivered, every one of the run's
      // executions has been too.
      ss.range(1).observe(Observation(marker), count(lit(1))).collect()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the marker execution never reached the listener")
      s
    } finally ss.listenerManager.unregister(listener)

    val runs = seen.asScala.toSeq
    def readsOrders(qe: QueryExecution) = qe.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.exists {
      case h: HadoopFsRelation => h.location.rootPaths.exists(_.getName == "orders.parquet")
      case _ => false
    }
    val ordersReads = runs.count(readsOrders)
    val clue = s"$ordersReads of ${runs.size} SQL executions read orders"
    assert(ordersReads == 1, s"only the materialized upstream may read orders: $clue")
    assert(runs.size <= 5, s"at most 5 SQL executions per run: $clue")

    def digests(sub: String, sep: String) =
      listDir(Paths.get(out, sub)).filter(Files.isDirectory(_))
        .map(d => s"$sub/${d.getFileName}" -> csvDigest(d, sep))
    assert((digests("human", ";") ++ digests("robot", "|") :+
      ("rejected" -> csvDigest(Paths.get(out, "rejected"), ";"))).toMap == Map(
      "human/PRODUTO=BUILDING" -> "b1240d0fa67a68618a52ac2563931bd7",
      "human/PRODUTO=FURNITURE" -> "0ca38a1f391766cb0fec31f3fc639e35",
      "human/PRODUTO=HOUSEHOLD" -> "e007d5cb047e2d888d577ef438949f37",
      "human/PRODUTO=MACHINERY" -> "41d752fab9781dafa61a8352fcbf4781",
      "robot/slot=08HRS" -> "9f9dcf55497615ee42b73b000131728c",
      "robot/slot=09HRS" -> "4693270740f867f2deb43a06c3a28a1e",
      "robot/slot=10HRS" -> "05d7084d9161e7d2434af39c4f94d898",
      "rejected" -> "f1de97a50aba1e644e80a1e81f7f1f76"))
    assert((s.human, s.robot, s.zipEntries) == ((94L, 18L, 11)))
    assert(new StateStore(s"$out/state.json").lastMetrics ==
      Map("human" -> 94L, "robot" -> 18L, "zip_entries" -> 11L))
    assert(s.stages == Seq("blocklist" -> 135L, "aggregates" -> 135L, "status_filter" -> 112L))
    val products = Seq("BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    assert(zipNames(s"$out/mailing_human.zip") == (Seq("._SUCCESS.crc", "_SUCCESS", "automacao_<ts>.log") ++
      products.flatMap(p => Seq(s"PRODUTO=$p/.part-00000-<uuid>.c000.csv.crc",
        s"PRODUTO=$p/part-00000-<uuid>.c000.csv"))).sorted)
  }

  test("RunMailing.execute on failure saves FAILED state and logs the stack trace") {
    val out = java.nio.file.Files.createTempDirectory("mailing-fail").toString
    val state = new StateStore(s"$out/state.json")
    intercept[Throwable] {
      graft.RunMailing.execute(ss, s"$out/does-not-exist", out, GraftConfig.default, state)
    }
    assert(state.status.contains("FAILED"), "failure must persist FAILED state")
    val logs = new java.io.File(s"$out/logs").listFiles()
    assert(logs != null && logs.nonEmpty, "run log must exist even on failure")
    val text = new String(java.nio.file.Files.readAllBytes(logs.head.toPath), "UTF-8")
    assert(text.contains("ERRO CRITICO NO FLUXO PRINCIPAL"),
      "failure must be written to the run log")
    assert(graft.RunMailing.OperatorFailureMessage.startsWith("FALHA NA AUTOMA"))
  }
}
