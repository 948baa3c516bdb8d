package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class ExactSubstrSpec extends SparkSpec {
  import ss.implicits._

  private def run(docs: Seq[(Long, String)], l: Int, maxOcc: Long = 1000L) =
    ExactSubstr.dedup(docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
        L = l, maxOcc = maxOcc)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq

  test("shared run at ARBITRARY offsets is cut from the later doc only") {
    // the run "r1 r2 r3" starts at pos 0 in doc 1 and pos 2 in doc 2 —
    // the fixed-segmentation case L32 misses
    val out = run(Seq(
      (1L, "r1 r2 r3 tail1 tail2"),
      (2L, "pre1 pre2 r1 r2 r3 end")), l = 3)
    assert(out === Seq(
      (1L, "r1 r2 r3 tail1 tail2", 5L, 0L),
      (2L, "pre1 pre2 end", 3L, 3L)))
  }

  test("a run longer than L is removed WHOLE (window union, not just one gram)") {
    val out = run(Seq(
      (1L, "a b c d e x"),
      (2L, "y a b c d e")), l = 3) // shared run of 5 > L=3
    assert(out(1) === ((2L, "y", 1L, 5L)))
  }

  test("within-document repetition keeps the earliest copy") {
    val out = run(Seq((5L, "u v w z u v w")), l = 3)
    assert(out === Seq((5L, "u v w z", 4L, 3L)))
  }

  test("keep-first is corpus order (doc_id, pos), not arrival order") {
    val out = run(Seq(
      (9L, "m n o p"),
      (2L, "m n o q")), l = 3) // doc 2 is first in corpus order
    assert(out === Seq(
      (2L, "m n o q", 4L, 0L),
      (9L, "p", 1L, 3L)))
  }

  test("fully-duplicated doc keeps an empty string, not null / missing row") {
    val out = run(Seq(
      (1L, "a b c"),
      (2L, "a b c")), l = 3)
    assert(out === Seq(
      (1L, "a b c", 3L, 0L),
      (2L, "", 0L, 3L)))
  }

  test("docs shorter than L never emit grams and are kept whole") {
    val out = run(Seq((1L, "a b"), (2L, "a b")), l = 3)
    assert(out === Seq((1L, "a b", 2L, 0L), (2L, "a b", 2L, 0L)))
  }

  test("maxOcc hot-anchor cap exempts grams above the cap") {
    // "h h h" occurs 4 times corpus-wide; with maxOcc=3 it is exempt
    // (boilerplate is L32/L70's job), with the default it is removed
    val docs = Seq(
      (1L, "h h h x"), (2L, "h h h y"), (3L, "h h h z"), (4L, "h h h w"))
    val capped = run(docs, l = 3, maxOcc = 3L)
    assert(capped.forall(_._4 == 0L), s"cap must exempt, got $capped")
    val uncapped = run(docs, l = 3)
    assert(uncapped.map(_._4) === Seq(0L, 3L, 3L, 3L))
  }

  test("overlapping distinct duplicated grams union their covers") {
    // doc 3 duplicates "a b c" (from doc 1) and "c d e" (from doc 2),
    // overlapping at "c": the union covers all five tokens
    val out = run(Seq(
      (1L, "a b c x1 x2"),
      (2L, "c d e y1 y2"),
      (3L, "a b c d e")), l = 3)
    assert(out(2) === ((3L, "", 0L, 5L)))
  }

  /** The retired ExactSubstr.dedup, whose positional gram stream came from
    * an interpreted `transform(sequence…, i -> md5(concat_ws(slice…)))`
    * lambda. Everything else is the operator as it stands. */
  private def retiredDedup(df: DataFrame, docId: Column, text: Column,
                           L: Int, maxOcc: Long): DataFrame = {
    val base = df.select(docId.as("doc_id"), split(text, " ").as("w"))
    val grams = base
      .filter(size(col("w")) >= L)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("w")) - L),
          i => md5(concat_ws(" ", slice(col("w"), i + 1, lit(L)))))).as(Seq("pos", "gh")))
    val firsts = grams.groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"), count(lit(1)).as("occ"))
      .filter(col("occ") > 1 && col("occ") <= maxOcc)
    val anchors = grams.join(firsts, "gh")
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("anchors"))
    val anc = coalesce(col("anchors"), array())
    val kept = filter(col("w"), (tok, i) => !exists(anc, a => a <= i && i < a + L))
    base.join(anchors, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"), kept.as("kept"))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("text_dedup"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  test("native gram stream matches the retired lambda stream on sf0.001 documents plus edge rows") {
    val edges = Seq[(Long, String)](
      (1L, " lead a b c"), (2L, "x lead a b c"), (3L, "a b c trail "), (4L, "q a b c trail "),
      (5L, "rep  rep  rep"), (6L, "rep  rep  rep  z"), (7L, "a"), (8L, ""), (9L, null),
      (10L, "  "), (11L, "   "), (12L, "u v"), (13L, "u v"))
      .toDF("doc_id", "text")
    val corpus = edges.unionByName(Tables.documents(ss, smallSfDir)
      .select((col("doc_id").cast("long") + 1000L).as("doc_id"), col("text")))
    // null text keeps its row with null counts, in both forms
    def rows(df: DataFrame) =
      df.as[(Long, String, Option[Long], Option[Long])].collect().toSeq.sortBy(_._1)
    for (l <- Seq(2, 3, 8)) {
      val got = rows(ExactSubstr.dedup(corpus, col("doc_id"), col("text"), L = l))
      val want = rows(retiredDedup(corpus, col("doc_id"), col("text"), l, 1000L))
      assert(got == want, s"L = $l")
      assert(want.exists(r => r._1 >= 1000L && r._4.exists(_ > 0L)), s"L = $l: no corpus removals to compare")
    }
    // L = 2 by hand: empty tokens are tokens, and a doc shorter than L is kept
    val two = rows(ExactSubstr.dedup(edges, col("doc_id"), col("text"), L = 2)).map(r => r._1 -> r).toMap
    def counts(id: Long) = (two(id)._2, two(id)._3.get, two(id)._4.get)
    assert(counts(2L) == (("x", 1L, 4L)))         // "lead a b c" duplicates doc 1's
    assert(counts(5L) == (("rep ", 2L, 3L)))      // "rep", "" repeat within the doc
    assert(counts(6L) == (("z", 1L, 6L)))
    assert(counts(7L) == (("a", 1L, 0L)))
    assert(counts(11L) == (("", 0L, 4L)))         // "" "" "" "" repeats doc 10's run
    assert(counts(13L) == (("", 0L, 2L)))
  }
}
