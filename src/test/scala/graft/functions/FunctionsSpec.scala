package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextCleanSpec extends SparkSpec {
  import ss.implicits._

  test("digitsOnly strips non-digits and nulls empties") {
    val out = Seq("(11) 98765-4321", "abc", null)
      .toDF("v").select(TextClean.digitsOnly(col("v")).as("d"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("11987654321", null, null))
  }

  test("stripDotZero only strips a trailing .0") {
    val out = Seq("123.0", "123.01", "1.0.0")
      .toDF("v").select(TextClean.stripDotZero(col("v"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("123", "123.01", "1.0"))
  }

  test("fixMojibake repairs the reference's corruption pairs") {
    val out = Seq("NÃƒO pagou AtÃ© 10")
      .toDF("v").select(TextClean.fixMojibake(col("v"))).collect().head.getString(0)
    assert(out == "NÃO pagou Até 10")
  }

  test("nanToNull maps pandas missing markers to null") {
    val out = Seq("nan", "NaT", "ok", "None", "NAN")
      .toDF("v").select(TextClean.nanToNull(col("v"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq(null, null, "ok", null, null))
  }
}

class BrFormatsSpec extends SparkSpec {
  import ss.implicits._

  test("brMoney renders 2-decimal comma format") {
    val out = Seq(1234.5, 0.0, 99.999).toDF("v")
      .select(BrFormats.brMoney(col("v"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("1234,50", "0,00", "100,00"))
  }

  test("brMoneyCompact drops decimals for integral values") {
    val out = Seq(1234.0, 1234.5).toDF("v")
      .select(BrFormats.brMoneyCompact(col("v"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("1234", "1234,50"))
  }

  test("parseCommaDecimal and parseBrDate round-trip; errors coerce to null") {
    val row = Seq(("1234,56", "31/12/2023", "99/99/2024")).toDF("m", "d", "bad")
      .select(
        BrFormats.parseCommaDecimal(col("m")).as("m"),
        BrFormats.brDate(BrFormats.parseBrDate(col("d"))).as("d"),
        BrFormats.parseBrDate(col("bad")).as("bad"))
      .collect().head
    assert(row.getDouble(0) == 1234.56)
    assert(row.getString(1) == "31/12/2023")
    assert(row.isNullAt(2))
  }

  // Reference check-digit implementations, independent of the column
  // algebra: CPF r = (Σ d·w)·10 mod 11 (10→0), CNPJ r = Σ d·w mod 11
  // (r<2→0 else 11−r) over the cyclic weights.
  private def cpfDigits(first9: Seq[Int]): (Int, Int) = {
    def chk(ds: Seq[Int]): Int = {
      val n = ds.length
      val r = ds.zipWithIndex.map { case (d, i) => d * (n + 2 - (i + 1)) }.sum * 10 % 11
      if (r == 10) 0 else r
    }
    val d10 = chk(first9)
    (d10, chk(first9 :+ d10))
  }

  test("cpfValid: checksum vectors, formatting, repeated-digit reject") {
    def v(s: String): Boolean = Seq(s).toDF("c")
      .select(BrFormats.cpfValid(col("c"))).as[Boolean].head()
    // derive a known-valid CPF from the reference implementation
    val base = Seq(5, 2, 9, 9, 8, 2, 2, 4, 7)
    val (a, b) = cpfDigits(base)
    val valid = (base :+ a :+ b).mkString
    assert(valid == "52998224725" && v(valid),
      s"the classic reference CPF must derive and validate (got $valid)")
    assert(v("529.982.247-25"), "formatted CPF strips separators")
    assert(!v(valid.dropRight(1) + ((valid.last - '0' + 1) % 10).toString),
      "wrong check digit rejects")
    assert(!v("11111111111"), "repeated digits reject despite checksum")
    assert(!v("1234567890") && !v("123456789012"), "wrong length rejects")
  }

  test("cnpjValid: canonical vector, formatting, rejects") {
    def v(s: String): Boolean = Seq(s).toDF("c")
      .select(BrFormats.cnpjValid(col("c"))).as[Boolean].head()
    assert(v("11222333000181"), "canonical sample 11.222.333/0001-81")
    assert(v("11.222.333/0001-81"), "formatted form strips separators")
    assert(!v("11222333000182"), "wrong check digit rejects")
    assert(!v("00000000000000"), "repeated digits reject")
    assert(!v("1122233300018"), "13 digits reject")
  }

  test("cpf/cnpj property: derived check digits validate for random bases") {
    // All 25 bases are drawn first (the same Random(3) sequence as one draw
    // per sample) and checked in ONE frame: planning cpfValid(cpfFromBase(b)),
    // the multiplicative expression tree q138 documents, is the whole cost,
    // so one frame per sample paid it 25 times.
    val rnd = new scala.util.Random(3)
    val bases = Seq.fill(25)(Seq.fill(9)(rnd.nextInt(10))).filter(_.distinct.size > 1)
    val derived = bases.map(_.mkString).toDF("b")
      .select(col("b"), BrFormats.cpfFromBase(col("b")).as("doc"),
        BrFormats.cpfValid(BrFormats.cpfFromBase(col("b"))).as("ok"))
      .as[(String, String, Boolean)].collect()
      .map { case (b, doc, ok) => b -> (doc, ok) }.toMap
    bases.foreach { base =>
      val (a, b) = cpfDigits(base)
      val s = (base :+ a :+ b).mkString
      val (doc, ok) = derived.getOrElse(base.mkString, (null, false))
      assert(doc == s, s"cpfFromBase must derive $s, got $doc")
      assert(ok, s"derived CPF $s must validate")
    }
  }
}
