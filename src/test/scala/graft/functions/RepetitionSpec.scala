package graft.functions

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

class RepetitionSpec extends SparkSpec {
  import ss.implicits._

  private def signals(texts: (Long, String)*) =
    Repetition.repetitionSignals(texts.toDF("doc_id", "text"), col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("dup-word and dup-bigram fractions on hand-checked docs") {
    val got = signals(
      1L -> "a b a b a",        // 5 tokens, 2 distinct → 1-2/5=0.6; bigrams: ab ba ab ba → 1-2/4=0.5
      2L -> "x y z w",          // all unique → 0; bigrams all unique → 0
      3L -> "only",             // 1 token → dup 0, no bigrams → 0
      4L -> "")                 // empty → 0 tokens, both 0
    assert(got(1L) == ((5L, 6000L, 5000L)))
    assert(got(2L) == ((4L, 0L, 0L)))
    assert(got(3L) == ((1L, 0L, 0L)))
    assert(got(4L) == ((0L, 0L, 0L)))
  }

  test("multiple spaces produce no empty tokens (DuckDB string_split parity)") {
    val got = signals(1L -> "a  b   a")
    assert(got(1L)._1 == 3L)            // "a","b","a"
    assert(got(1L)._2 == 3333L)         // 1 - 2/3
  }

  test("modal bigram share: repeated phrase dominates") {
    // "to be or not to be" bigrams: "to be","be or","or not","not to","to be"
    // modal = "to be" ×2 of 5 → floor(2*10⁴/5)=4000
    val df = Seq((1L, "to be or not to be"), (2L, "single")).toDF("doc_id", "text")
    val got = Repetition.topNgramFracQ(df, col("doc_id"), col("text"), n = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 4000L)
    assert(!got.contains(2L)) // <n tokens → absent, callers coalesce
  }

  test("trigrams via the general n-gram builder") {
    val toks = Repetition.wordTokens(lit("a b c d"))
    val grams = Seq(1).toDF("x").select(Repetition.wordNgrams(toks, 3).as("g"))
      .collect().head.getSeq[String](0)
    assert(grams == Seq("a b c", "b c d"))
  }

  test("repetitionSignals is a narrow plan: no exchange, one scan") {
    val df = ss.range(100).selectExpr("id AS doc_id", "repeat('w ', CAST(id % 7 + 1 AS INT)) AS text")
    val plan = Repetition.repetitionSignals(df, col("doc_id"), col("text"))
      .queryExecution.executedPlan
    val exchanges = plan.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }
    assert(exchanges.isEmpty, s"expected zero shuffles, got:\n$plan")
  }

  test("dedupSegments keeps first occurrences in order and re-joins") {
    val df = Seq(
      (1L, "intro\nbody\nintro\nfooter\nbody"),
      (2L, "only one line"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Repetition.dedupSegments(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((5L, 3L, "intro\nbody\nfooter")))
    assert(out(2L) == ((1L, 1L, "only one line")))
    assert(out(3L) == ((1L, 1L, ""))) // split("") = [""] — one empty segment
    // word-grained path (the q83 shape): order-preserving word dedup
    val w = Repetition.dedupSegments(
      Seq((9L, "a b a c b a")).toDF("doc_id", "text"), col("doc_id"), col("text"), " ")
      .collect().head
    assert((w.getLong(1), w.getLong(2), w.getString(3)) == ((6L, 3L, "a b c")))
    // regex metacharacter separators are taken literally
    val dot = Repetition.dedupSegments(
      Seq((8L, "x.y.x")).toDF("doc_id", "text"), col("doc_id"), col("text"), ".")
      .collect().head
    assert((dot.getLong(1), dot.getLong(2), dot.getString(3)) == ((3L, 2L, "x.y")))
  }

  test("dedupSegments is a narrow plan: no exchange") {
    val df = ss.range(50).selectExpr("id AS doc_id", "repeat('l\n', CAST(id % 5 + 1 AS INT)) AS text")
    val plan = Repetition.dedupSegments(df, col("doc_id"), col("text"))
      .queryExecution.executedPlan
    val exchanges = plan.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }
    assert(exchanges.isEmpty, s"expected zero shuffles, got:\n$plan")
  }

  /** The retired modal-gram share: explode every gram, count per
    * (doc, gram), then max/sum per doc — two shuffles. The equivalence
    * reference for the in-row fold. */
  private def retiredTopNgramFracQ(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("id"), Repetition.wordTokens(text).as("__toks"))
      .select(col("id"), explode(Repetition.wordNgrams(col("__toks"), n)).as("gram"))
      .groupBy("id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("id")
      .agg(floor(max("cnt") * lit(10000.0) / sum("cnt")).cast("long").as(s"top_${n}gram_frac_q"))

  private def idLongMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private lazy val edgeCorpus: DataFrame = Seq[(Long, String)](
      (1L, ""), (2L, "one"), (3L, "two words"), (4L, "w w w w w"), (5L, "x x"),
      (6L, "  a  b   a  b  "), (7L, "a b a b a"), (8L, null), (9L, "to be or not to be"),
      (10L, "Same same SAME same"))
    .toDF("doc_id", "text")
    .unionByName(Tables.documents(ss, smallSfDir)
      .select((col("doc_id").cast("long") + 1000L).as("doc_id"), col("text")))

  test("topNgramFracQ matches the retired two-aggregation form on sf0.001 documents plus edge rows") {
    for (n <- Seq(1, 2, 3)) {
      val got = idLongMap(Repetition.topNgramFracQ(edgeCorpus, col("doc_id"), col("text"), n))
      val want = idLongMap(retiredTopNgramFracQ(edgeCorpus, col("doc_id"), col("text"), n))
      assert(got == want, s"n = $n")
      assert(want.size > 100, s"n = $n: corpus too small to mean anything")
    }
    val bigrams = idLongMap(Repetition.topNgramFracQ(edgeCorpus, col("doc_id"), col("text"), 2))
    assert(!bigrams.contains(1L) && !bigrams.contains(2L) && !bigrams.contains(8L))
    assert(bigrams(3L) == 10000L && bigrams(4L) == 10000L && bigrams(5L) == 10000L)
    assert(bigrams(6L) == 6666L) // "a b","b a","a b" → 2 of 3
  }

  test("q56's modal bigram share matches the retired join form; its plan has no exchange") {
    val retired = Repetition.repetitionSignals(edgeCorpus, col("doc_id"), col("text"))
      .drop("top_bigram_frac_q")
      .join(retiredTopNgramFracQ(edgeCorpus, col("doc_id"), col("text"), 2), Seq("id"), "left")
      .select(col("id"), coalesce(col("top_2gram_frac_q"), lit(0L)))
    val now = Repetition.repetitionSignals(edgeCorpus, col("doc_id"), col("text"))
      .select(col("id"), col("top_bigram_frac_q"))
    assert(idLongMap(now) == idLongMap(retired))
    assert(idLongMap(now)(2L) == 0L && idLongMap(now)(8L) == 0L)

    val plan = graft.queries.LQueries.q56(ss, smallSfDir).queryExecution.executedPlan
    val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) { case e: Exchange => e }
    assert(exchanges.isEmpty, s"q56 should be one narrow projection:\n$plan")
  }
}
