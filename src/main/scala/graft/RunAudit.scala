package graft

import graft.operators.Audit
import graft.pipeline.GraftConfig

/** Standalone status audit, the engine's analog of the reference's
  * `laudo.py`: list the distinct blocklist statuses in the INPUT data,
  * scan every column of the exported OUTPUT CSVs for statuses that the
  * config says must be removed, and write the markdown audit report.
  *
  * Usage: `sbt "runMain graft.RunAudit <inputDir> <outputDir> [config.ini]"`
  * — `inputDir` holds the source data (parquet `customer` table in the
  * test schema, the MAILING workbook in production), `outputDir` the
  * exported mailing CSVs from [[RunMailing]]. Each scan is one
  * distributed pass per directory ([[Audit]]); the report lands at
  * `<outputDir>/RELATORIO_AUDITORIA_COMPLETA.md`.
  */
object RunAudit {
  def main(args: Array[String]): Unit = {
    val Array(inputDir, outputDir) = args.take(2)
    val spark = GraftSession.local("graft-audit", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    try {
      val config = args.drop(2).headOption.map(GraftConfig.fromFile)
        .getOrElse(GraftConfig.default)
      val toRemove = config.statusesToRemove.map(_.toLowerCase(java.util.Locale.ROOT))

      // Phase 1: input-side distinct statuses (the blocklist column of the
      // test schema's customer table = the reference's coluna_bloqueio)
      val input = graft.sources.Tables.customer(spark, inputDir)
      val statuses = Audit.distinctStatuses(input, "c_mktsegment")
        .collect().map(_.getString(0)).toSeq

      // Phase 2: every exported CSV directory, every column, one pass each
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(outputDir), spark.sparkContext.hadoopConfiguration)
      val exportDirs = Seq("human" -> ";", "robot" -> "|").filter { case (d, _) =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$outputDir/$d"))
      }
      val findings = exportDirs.map { case (dir, sep) =>
        val df = spark.read.option("header", "true").option("sep", sep)
          .csv(s"$outputDir/$dir")
        val found = Audit.forbiddenScan(df, df.columns.toSeq, toRemove)
          .select("value").distinct().collect().map(_.getString(0)).toSeq
        dir -> found
      }.toMap

      // Phase 3: the markdown report — written through the SAME Hadoop fs
      // handle that probed the export dirs, so scheme'd outputDirs
      // (file:/…, hdfs://…) resolve consistently for read and write
      val md = Audit.report(statuses, toRemove, findings)
      val reportPath = new org.apache.hadoop.fs.Path(
        s"$outputDir/RELATORIO_AUDITORIA_COMPLETA.md")
      val os = fs.create(reportPath, true)
      try os.write(md.getBytes("UTF-8")) finally os.close()
      val alerts = findings.filter(_._2.nonEmpty)
      println(s"AUDIT_STATUSES=${statuses.size} AUDIT_FILES=${findings.size} AUDIT_ALERTS=${alerts.size}")
      println(s"AUDIT_REPORT=$outputDir/RELATORIO_AUDITORIA_COMPLETA.md")
    } finally spark.stop()
  }
}
