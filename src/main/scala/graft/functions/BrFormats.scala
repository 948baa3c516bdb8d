package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Brazilian-locale output formatting, re-expressing the reference's
  * `_formatar_valor_para_duas_casas` / `_formatar_valor_para_robo` /
  * `%d/%m/%Y` date rendering as native expressions.
  *
  * Refs: `/root/reference/src/formatador_dados.py:12-31`,
  * `/root/reference/src/gerador_robo_mestre.py:11-19`,
  * `/root/reference/src/data_exporter.py:36-40`.
  */
object BrFormats {

  /** 2-decimal money with comma separator: 1234.5 → "1234,50"; null → null. */
  def brMoney(c: Column): Column =
    when(c.isNull, lit(null))
      .otherwise(regexp_replace(format_string("%.2f", c.cast("double")), "\\.", ","))

  /** Robot-file money: integral values render without decimals
    * (1234.0 → "1234"), otherwise like [[brMoney]]. */
  def brMoneyCompact(c: Column): Column = {
    val d = c.cast("double")
    when(c.isNull, lit(null))
      .when(d === floor(d), d.cast("long").cast("string"))
      .otherwise(regexp_replace(format_string("%.2f", d), "\\.", ","))
  }

  /** dd/MM/yyyy rendering of a date/timestamp column. */
  def brDate(c: Column): Column = date_format(c, "dd/MM/yyyy")

  /** Simple comma-decimal parse (no thousands separators), the shape
    * `_safe_to_float` actually handles: "1234,56" → 1234.56. */
  def parseCommaDecimal(c: Column): Column =
    regexp_replace(trim(c), ",", ".").cast("double")

  /** Day-first date parse, errors → null (reference `_tratar_datas` with
    * `dayfirst=True, errors='coerce'`). */
  def parseBrDate(c: Column): Column = try_to_timestamp(c, lit("d/M/yyyy")).cast("date")

  /** CPF validity (the Brazilian natural-person tax id a mailing list
    * keys on): strips separators, requires 11 digits, rejects the
    * repeated-digit numbers (111.111.111-11 passes the checksum but is
    * officially invalid), and verifies both mod-11 check digits
    * (`(Σ dᵢ·wᵢ)·10 mod 11`, 10 → 0). Pure column algebra — no UDF. */
  def cpfValid(c: Column): Column = {
    val d = regexp_replace(c.cast("string"), "[^0-9]", "")
    length(d) === 11 &&
      !(d === repeat(substring(d, 1, 1), 11)) &&
      substring(d, 10, 1).cast("int") === cpfCheck(d, 9) &&
      substring(d, 11, 1).cast("int") === cpfCheck(d, 10)
  }

  /** Complete a 9-digit base to a full CPF by appending both derived
    * check digits — the generator dual of [[cpfValid]] (deterministic
    * test-document synthesis, base-recovery repair). The input must be
    * 9 digits; no validity filtering is applied (a repeated-digit base
    * yields the officially-invalid repeated CPF, which [[cpfValid]]
    * then rejects — the round-trip is the spec's property check). */
  def cpfFromBase(c: Column): Column = {
    val d10 = cpfCheck(c, 9)
    val withD10 = concat(c, d10.cast("string"))
    concat(withD10, cpfCheck(withD10, 10).cast("string"))
  }

  /** CPF mod-11 check digit over the first `n` digits of `d`. */
  private def cpfCheck(d: Column, n: Int): Column = {
    val s = (1 to n).map(i => substring(d, i, 1).cast("int") * (n + 2 - i)).reduce(_ + _)
    val r = pmod(s * 10, lit(11))
    when(r === 10, 0).otherwise(r)
  }

  /** CNPJ validity (the legal-entity id): 14 digits, repeated-digit
    * reject, both mod-11 check digits over the cyclic 2..9 weights. */
  def cnpjValid(c: Column): Column = {
    val d = regexp_replace(c.cast("string"), "[^0-9]", "")
    def digit(i: Int): Column = substring(d, i, 1).cast("int")
    def check(weights: Seq[Int]): Column = {
      val s = weights.zipWithIndex.map { case (w, i) => digit(i + 1) * w }.reduce(_ + _)
      val r = pmod(s, lit(11))
      when(r < 2, 0).otherwise(lit(11) - r)
    }
    length(d) === 14 &&
      !(d === repeat(substring(d, 1, 1), 14)) &&
      digit(13) === check(Seq(5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)) &&
      digit(14) === check(Seq(6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2))
  }
}
