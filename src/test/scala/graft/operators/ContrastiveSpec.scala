package graft.operators

import graft.SparkSpec

class ContrastiveSpec extends SparkSpec {
  import ss.implicits._

  private val docs = (1L to 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text")

  test("every anchor gets exactly k negatives, never itself") {
    val out = Contrastive.negativeSample(docs, "doc_id", k = 3)
      .as[(Long, Long, Long)].collect()
    assert(out.length == 60)
    assert(out.groupBy(_._1).forall(_._2.length == 3))
    assert(out.forall { case (a, _, n) => a != n }, "self-negative found")
    assert(out.forall { case (_, _, n) => n >= 1L && n <= 20L })
  }

  test("draws are deterministic across invocations and partitionings") {
    val a = Contrastive.negativeSample(docs, "doc_id", 2).as[(Long, Long, Long)].collect().toSet
    val b = Contrastive.negativeSample(docs.repartition(7), "doc_id", 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b)
  }

  test("negatives spread over the corpus rather than collapsing to a few partners") {
    val negs = Contrastive.negativeSample(docs, "doc_id", 3)
      .select("neg_doc_id").as[Long].collect()
    assert(negs.distinct.length >= 10, s"only ${negs.distinct.length} distinct partners in 60 draws")
  }
}
