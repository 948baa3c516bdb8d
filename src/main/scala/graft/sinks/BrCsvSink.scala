package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Observation, Row}
import org.apache.spark.sql.functions._
import graft.functions.{BrFormats, TextClean}
import graft.pipeline.StageReport

/** Partitioned CSV export with the reference's output conventions:
  * per-product files, `;` (human) / `|` (robot) separators, BR money/date
  * rendering, and the final polish (`.0` strip, nan→null, mojibake repair)
  * applied to the FRAME before writing — the reference re-reads and rewrites
  * every CSV on disk afterwards (`final_polisher.py`, `compressor.py`),
  * which cannot work at 100 TB; here polish is one more projection in the
  * same job.
  *
  * Refs: `/root/reference/src/data_exporter.py`,
  * `/root/reference/src/gerador_robo_mestre.py:118-137`. */
object BrCsvSink {

  /** Pre-write polish: BR-format money/date columns, strip `.0` from id-like
    * columns, nan-strings → null, repair mojibake on text columns. */
  def polish(df: DataFrame,
             moneyCols: Seq[String] = Nil,
             dateCols: Seq[String] = Nil,
             idCols: Seq[String] = Nil,
             textCols: Seq[String] = Nil): DataFrame = {
    def applyTo(d: DataFrame, cols: Seq[String])(f: Column => Column) =
      cols.filter(d.columns.contains).foldLeft(d)((acc, c) => acc.withColumn(c, f(col(c))))
    val m = applyTo(df, moneyCols)(BrFormats.brMoney)
    val dt = applyTo(m, dateCols)(BrFormats.brDate)
    val id = applyTo(dt, idCols)(c => TextClean.stripDotZero(c.cast("string")))
    applyTo(id, textCols)(c => TextClean.nanToNull(TextClean.fixMojibake(c)))
  }

  /** The reference writes every CSV as `utf-8-sig`
    * (`data_exporter.py:90`, `final_sanitizer.py:59,104`) so BR consumers
    * can open them in Excel. Spark's CSV writer has no BOM option, and a
    * driver-side prepend pass would rewrite every byte; instead the BOM is
    * carried as the first character of the FIRST column's name — UTF-8
    * encodes it as the `EF BB BF` signature at offset 0 of every part
    * file's header line, which is exactly what `utf-8-sig` produces.
    * Zero extra passes, works at any scale. */
  private def withBomHeader(df: DataFrame): DataFrame =
    df.columns.headOption.filterNot(_.startsWith("\uFEFF"))
      .map(first => df.withColumnRenamed(first, "\uFEFF" + first))
      .getOrElse(df)

  /** Run `write` over `df` with a row-count [[Observation]] on the exact
    * frame handed to `.write`, and return that count: it is what a
    * re-read of the output would count, taken from the write itself. */
  private def countedWrite(df: DataFrame, out: String)(write: DataFrameWriter[Row] => Unit): Long = {
    val obs = new Observation()
    write(df.observe(obs, count(lit(1)).as("rows")).write)
    StageReport.awaitObserved(obs, s"the CSV write to $out").getAs[Long]("rows")
  }

  /** Write one directory of CSV part-files per `partitionCol` value
    * (`partitionBy` → files land under `<out>/<col>=<value>/`), executed
    * fully distributed — no per-product driver loop like the reference.
    *
    * Partition VALUES are filename-sanitized ([[graft.functions.TextClean
    * .safeFileName]]) so directory names match the reference's scrubbed
    * file names instead of Spark's `%XX` path escapes; part files carry
    * the `utf-8-sig` BOM signature like every reference CSV.
    *
    * Sanitization trades like the reference does, but safer: null/blank
    * partition values are skipped (the reference's `isna or not strip()`
    * guard, `data_exporter.py:61`); products whose scrubbed names COLLIDE
    * merge into one directory (the reference's per-product loop silently
    * OVERWRITES the earlier file at the same path — merge loses nothing);
    * a non-blank value that scrubs to empty becomes `_` (the reference
    * emits a nameless `mailing__<date>.csv`; an empty partition value
    * would round-trip as NULL). Pass `sanitizeNames = false` to keep raw
    * values with Spark's escaping and no row skipped.
    *
    * Returns the number of rows written, null/blank skips excluded. */
  def writePartitioned(df: DataFrame, out: String, partitionCol: String, sep: String = ";",
                       bom: Boolean = true, sanitizeNames: Boolean = true): Long = {
    val scrubbed = TextClean.safeFileName(col(partitionCol))
    val sanitized =
      if (sanitizeNames)
        df.filter(col(partitionCol).isNotNull && trim(col(partitionCol)) =!= "")
          .withColumn(partitionCol,
            when(length(scrubbed) === 0, lit("_")).otherwise(scrubbed))
      else df
    // keep the partition column out of the BOM slot: it never lands in
    // the file body, so the BOM must go on the first IN-FILE column
    val (part, rest) = sanitized.columns.partition(_ == partitionCol)
    val ordered = sanitized.select((rest ++ part).map(col).toIndexedSeq: _*)
    countedWrite(if (bom && rest.nonEmpty) withBomHeader(ordered) else ordered, out)(_
      .mode("overwrite")
      .partitionBy(partitionCol)
      .option("header", "true")
      .option("sep", sep)
      .option("emptyValue", "")
      .option("nullValue", "")
      .csv(out))
  }

  /** Robot export grouped by TIME SLOT: many products map to one slot
    * (`grupos_08hrs = P1,P2,…` in the reference config) and each slot gets
    * its own output under `<out>/slot=<SLOT>/`. The reference loops on the
    * driver filtering per slot and rewriting
    * (`gerador_robo_mestre.py:119-137`); here the slot is ONE derived
    * column and `partitionBy` fans the write out in a single distributed
    * pass — no repeated scans, no driver loop. Rows whose product is in no
    * slot group are dropped, like the reference's `isin` filter; a product
    * listed in SEVERAL groups exports into every matching slot's file
    * (the reference's per-slot `isin` loop matches each slot
    * independently), expressed here as an explode over the matching slots.
    * Robot files use the `|` separator and, like every reference CSV,
    * the `utf-8-sig` signature (`gerador_robo_mestre.py:138`).
    *
    * Returns the number of rows written: one per matching slot. */
  def writeBySlots(df: DataFrame, productCol: Column, slotGroups: Map[String, Seq[String]],
                   out: String, sep: String = "|", bom: Boolean = true): Long = {
    require(slotGroups.nonEmpty, "writeBySlots needs at least one slot group")
    // One entry per slot whose group contains the product; explode drops
    // rows whose array is empty (product in no group) and duplicates rows
    // into each matching slot otherwise — still a single pass, no driver loop.
    val matching = array(slotGroups.toSeq.sortBy(_._1).map { case (s, products) =>
      when(productCol.isin(products: _*), lit(s))
    }: _*)
    val slotted = df.withColumn("slot", explode(filter(matching, _.isNotNull)))
    countedWrite(if (bom) withBomHeader(slotted) else slotted, out)(_
      .mode("overwrite")
      .partitionBy("slot")
      .option("header", "true")
      .option("sep", sep)
      .option("emptyValue", "")
      .option("nullValue", "")
      .csv(out))
  }
}
