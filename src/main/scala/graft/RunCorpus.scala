package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.{CorpusPipeline, StageReport}

/** End-to-end training-corpus preparation run — the LLM-data sibling of
  * [[RunMailing]]: documents in, deduplicated + leakage-safe-split corpus
  * out, written as split-partitioned parquet (the standard
  * `corpus/split=train|valid|test/` training layout) with per-stage audit
  * counts. Usage: `sbt "runMain graft.RunCorpus <sfDir> <outDir>"`. */
object RunCorpus {

  /** `splits` holds (split, rows, whitespace tokens) for every split the
    * written corpus contains, sorted by split name. */
  final case class Summary(stages: Seq[(String, Long)], splits: Seq[(String, Long, Long)])

  /** The run against a CALLER-OWNED session, separable from `main` so a
    * spec drives it without forking a JVM. */
  def execute(spark: SparkSession, sfDir: String, outDir: String): Summary = {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val report = new StageReport
    val corpus = CorpusPipeline.prepare(docs, col("doc_id"), col("text"),
      report = Some(report))
    corpus.write.mode("overwrite").partitionBy("split").parquet(s"$outDir/corpus")
    val bySplit = spark.read.parquet(s"$outDir/corpus")
      .groupBy("split").agg(count(lit(1)).as("n"), sum("ws_tokens").as("tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // stage observes fired on the write action; their completion rides
    // the ASYNC listener bus — wait it out (bounded) instead of racing it
    report.awaitAll()
    Summary(report.results, bySplit.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession.local("graft-corpus", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    try {
      val s = execute(spark, sfDir, outDir)
      println(s"STAGES=${s.stages.map { case (n, c) => s"$n:$c" }.mkString(",")}")
      println(s"SPLITS=${s.splits.map { case (n, c, t) => s"$n:$c:${t}tok" }.mkString(",")}")
      println(s"CORPUS=$outDir/corpus")
    } finally spark.stop()
  }
}
