package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class DedupEvalSpec extends SparkSpec {
  import ss.implicits._

  test("precision/recall ppm over approximate vs exact pair sets") {
    val exact = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)).toDF("id_a", "id_b")
    val approx = Seq((1L, 2L), (3L, 4L), (9L, 10L)).toDF("id_a", "id_b")
    val r = DedupEval.pairSetMetrics(approx, exact).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L)          // n_exact, n_approx
    assert(r.getLong(2) == 2L && r.getLong(3) == 1L && r.getLong(4) == 2L) // tp fp fn
    assert(r.getLong(5) == 666666L, "precision 2/3 ppm")
    assert(r.getLong(6) == 500000L, "recall 2/4 ppm")
  }

  test("empty approximate set: zero precision denominator handled") {
    val exact = Seq((1L, 2L)).toDF("id_a", "id_b")
    val approx = exact.where($"id_a" > 100)
    val r = DedupEval.pairSetMetrics(approx, exact).collect().head
    assert(r.getLong(5) == 0L && r.getLong(6) == 0L && r.getLong(0) == 1L)
  }

  test("duplicate pair rows in the inputs do not inflate counts") {
    val exact = Seq((1L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    val approx = Seq((1L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    val r = DedupEval.pairSetMetrics(approx, exact).collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L && r.getLong(2) == 1L)
  }

  test("thresholdCurve is monotone, covers zero-yield dials, and counts touched docs") {
    // 1~2 identical (J=1.0), 3~4 share most grams (0.5<J<0.9), 5 alone.
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "p q r s t u v w"), (4L, "p q r s t u v z"),
      (5L, "m n o m n o m n o")).toDF("doc_id", "text")
    val rows = DedupEval.thresholdCurve(docs, col("doc_id"), col("text"),
      k = 3, thresholds = Seq(0.5, 0.9, 1.0))
      .orderBy("threshold_bp")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.map(_._1) == Seq(5000L, 9000L, 10000L))
    val byT = rows.map(r => r._1 -> (r._2, r._3)).toMap
    assert(byT(5000L) == ((2L, 4L)), s"loose dial keeps both pairs: ${byT(5000L)}")
    assert(byT(9000L) == ((1L, 2L)), "tight dial keeps only the identical pair")
    assert(byT(10000L) == ((1L, 2L)), "J=1.0 pair survives the top dial")
    // Monotone: tighter dial never yields more pairs or docs.
    rows.sliding(2).foreach { case Seq(lo, hi) =>
      assert(hi._2 <= lo._2 && hi._3 <= lo._3, s"non-monotone: $lo -> $hi")
    }
  }

  /** The retired thresholdCurve: the pair frame broadcast-crossed with the
    * threshold spine on `j_bp >= threshold_bp`, rolled up twice, and left-
    * joined back to the spine. Kept as the equivalence reference; it
    * multiplies pairs by a repeated threshold, so feed it distinct ones. */
  private def retiredCurve(df: DataFrame, idCol: Column, textCol: Column,
                           k: Int, thresholds: Seq[Double]): DataFrame = {
    val thrBp = thresholds.map(t => math.round(t * 1e4)).sorted
    val pairs = NearDup.ngramJaccardPairs(df, idCol, textCol, k, threshold = thrBp.head / 1e4)
      .select(col("id_a"), col("id_b"), round(col("jaccard") * 1e4).cast("long").as("j_bp"))
    val spine = thrBp.toDF("threshold_bp")
    val hit = pairs.join(broadcast(spine), col("j_bp") >= col("threshold_bp"))
    val perPair = hit.groupBy("threshold_bp").agg(count(lit(1)).as("n_pairs"))
    val perDoc = hit
      .select(col("threshold_bp"), explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
      .groupBy("threshold_bp").agg(count(lit(1)).as("n_docs"))
    spine.join(perPair, Seq("threshold_bp"), "left")
      .join(perDoc, Seq("threshold_bp"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs"))
  }

  private def curve(df: DataFrame, k: Int, thresholds: Seq[Double]): Seq[(Long, Long, Long)] =
    DedupEval.thresholdCurve(df, col("doc_id"), col("text"), k, thresholds)
      .as[(Long, Long, Long)].collect().toSeq.sorted

  private val edgeDocs = Seq(
    (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
    (3L, "p q r s t u v w"), (4L, "p q r s t u v z"),
    (5L, "m n o m n o m n o"), (6L, ""), (7L, null)).toDF("doc_id", "text")

  test("thresholdCurve matches the retired spine-join form on sf0.001 documents plus edge rows") {
    val corpus = edgeDocs.unionByName(Tables.documents(ss, smallSfDir)
      .select((col("doc_id").cast("long") + 1000L).as("doc_id"), col("text")))
    val thresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    val got = curve(corpus, 3, thresholds)
    val want = retiredCurve(corpus, col("doc_id"), col("text"), 3, thresholds)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got == want)
    assert(got.head._2 > 2L, s"the corpus should add pairs beyond the edge rows: $got")
  }

  test("thresholdCurve counts a repeated threshold once") {
    val dup = curve(edgeDocs, 3, Seq(0.5, 0.5, 0.9))
    assert(dup == Seq((5000L, 2L, 4L), (9000L, 1L, 2L)))
    assert(dup == curve(edgeDocs, 3, Seq(0.5, 0.9)))
    // one dial at basis-point resolution
    assert(curve(edgeDocs, 3, Seq(0.5, 0.50001)) == Seq((5000L, 2L, 4L)))
  }

  test("thresholdCurve: an empty pair set keeps every dial at 0/0") {
    val far = Seq((1L, "a b c d"), (2L, "w x y z")).toDF("doc_id", "text")
    assert(curve(far, 2, Seq(0.9, 0.5)) == Seq((5000L, 0L, 0L), (9000L, 0L, 0L)))
    val none = far.where(col("doc_id") > 100L)
    assert(curve(none, 2, Seq(0.5)) == Seq((5000L, 0L, 0L)))
  }

  test("thresholdCurve keeps a pair sitting exactly on a dial (>=)") {
    // unigram sets {a b c} and {a b d}: J = 2/4 = 0.5 exactly
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    assert(curve(docs, 1, Seq(0.5, 0.5001)) == Seq((5000L, 1L, 2L), (5001L, 0L, 0L)))
  }

  test("thresholdCurve counts a doc paired at two j levels once per dial") {
    // unigrams: J(1,2) = 1.0, J(1,3) = J(2,3) = 3/5 = 0.6 — docs 1 and 2
    // sit in pairs at two levels
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "a b c x")).toDF("doc_id", "text")
    assert(curve(docs, 1, Seq(0.5, 0.6, 0.9)) ==
      Seq((5000L, 3L, 3L), (6000L, 3L, 3L), (9000L, 1L, 2L)))
    assert(curve(docs, 1, Seq(0.5, 0.6, 0.9)) ==
      retiredCurve(docs, col("doc_id"), col("text"), 1, Seq(0.5, 0.6, 0.9))
        .as[(Long, Long, Long)].collect().toSeq.sorted)
  }

  test("thresholdCurve schema is three long columns") {
    val schema = DedupEval.thresholdCurve(edgeDocs, col("doc_id"), col("text"), 3, Seq(0.5)).schema
    assert(schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("threshold_bp" -> "bigint", "n_pairs" -> "bigint", "n_docs" -> "bigint"))
  }
}
