package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextClean

/** Blocklist / exclusion operators.
  *
  * The blocklist side is usually tiny relative to the main table (it is the
  * output of a HAVING over the disposition log), and the threshold
  * operator leaves the join strategy to the planner: with no hint, Spark
  * broadcasts it when the estimated size is under the broadcast threshold,
  * and AQE re-decides from the MEASURED size once the log aggregate has
  * run — so a pathological log that puts most of the customer base over
  * the threshold goes through the shuffle path instead of an oversized
  * broadcast. Building the frame runs no job.
  */
object Blocklist {

  /** Remove rows whose key accumulated ≥ `threshold` critical statuses in the
    * log. Ref: `/root/reference/src/processing_pipeline.py:64-90`
    * (`_remover_clientes_proibidos`): count critical statuses per client,
    * drop clients at/over the threshold via anti-join. */
  def removeByStatusThreshold(
      main: DataFrame, mainKey: Column,
      log: DataFrame, logKey: Column, statusCol: Column,
      criticalStatuses: Seq[String], threshold: Int): DataFrame = {
    val blocked = log
      .filter(TextClean.normKey(statusCol).isin(criticalStatuses.map(_.toLowerCase): _*))
      .groupBy(logKey.as("__blocked_key"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= threshold)
      .select("__blocked_key")
    main.join(blocked, mainKey === col("__blocked_key"), "left_anti")
  }

  /** Split rows into (kept, rejected-with-reason) by a status set, after
    * mojibake repair + normalization — the reference's bloqueio filter with
    * its rejected-rows side report.
    * Ref: `/root/reference/src/processing_pipeline.py:195-222`. */
  def filterWithRejects(df: DataFrame, statusCol: Column, toRemove: Set[String]): (DataFrame, DataFrame) = {
    val norm = TextClean.normKey(TextClean.fixMojibake(statusCol))
    val flagged = df.withColumn("__remove", norm.isin(toRemove.map(_.toLowerCase).toSeq: _*))
    val kept = flagged.filter(!col("__remove")).drop("__remove")
    val rejected = flagged.filter(col("__remove")).drop("__remove")
      .withColumn("motivo_remocao", statusCol)
    (kept, rejected)
  }

  /** What-if sweep of the blocklist threshold (R8's dial): for each
    * candidate threshold 1..`maxThreshold`, how many keys WOULD be
    * blocked (critical-status count ≥ threshold). The reference hardcodes
    * threshold 3; this is the report an operator reads before moving it —
    * the mailing-side twin of the dedup threshold curve.
    *
    * Scale shape: one map-side-combinable per-key critical count, then a
    * count HISTOGRAM (bounded by the max per-key count, metadata-sized)
    * crossed with the tiny threshold spine — the sweep never rescans the
    * log per threshold. Output: (threshold, n_blocked). */
  def thresholdSweep(log: DataFrame, logKey: Column, statusCol: Column,
                     criticalStatuses: Seq[String], maxThreshold: Int): DataFrame = {
    require(maxThreshold >= 1, s"maxThreshold >= 1, got $maxThreshold")
    val spark = log.sparkSession
    import spark.implicits._
    val hist = log
      .filter(TextClean.normKey(statusCol).isin(criticalStatuses.map(_.toLowerCase): _*))
      .groupBy(logKey.as("__key")).agg(count(lit(1)).as("__n"))
      .groupBy("__n").agg(count(lit(1)).as("__cnt"))
    val spine = (1 to maxThreshold).map(_.toLong).toDF("threshold")
    spine.join(hist, col("__n") >= col("threshold"), "left")
      .groupBy("threshold")
      .agg(sum(coalesce(col("__cnt"), lit(0L))).as("n_blocked"))
  }
}
