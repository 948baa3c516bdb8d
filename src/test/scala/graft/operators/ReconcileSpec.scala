package graft.operators

import graft.SparkSpec

class ReconcileSpec extends SparkSpec {
  import ss.implicits._

  private def src(rows: (Long, String, String)*) = rows.toDF("id", "city", "plan")

  test("majority wins and the dispute is flagged") {
    val a = src((1L, "porto", "gold"), (2L, "lisboa", "basic"))
    val b = src((1L, "porto", "gold"), (2L, "lisboa", "basic"))
    val c = src((1L, "PORTO", "gold"), (2L, "lisboa", "basic"))
    val out = Reconcile.quorum(Seq("a" -> a, "b" -> b, "c" -> c), "id",
      Seq("city", "plan"))
      .as[(Long, String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    assert(out((1L, "city")) == (("porto", 2L, 3L, 1L)), "2-1 vote, disputed")
    assert(out((1L, "plan")) == (("gold", 3L, 3L, 0L)))
    assert(out((2L, "city")) == (("lisboa", 3L, 3L, 0L)))
  }

  test("null claims abstain: they neither vote nor count as presence") {
    val a = src((1L, "porto", null))
    val b = src((1L, null, null))
    val out = Reconcile.quorum(Seq("a" -> a, "b" -> b), "id", Seq("city", "plan"))
      .as[(Long, String, String, Long, Long, Long)].collect()
    assert(out.length == 1, "plan has zero non-null votes → no row")
    assert(out.head == ((1L, "city", "porto", 1L, 1L, 0L)))
  }

  test("a key missing from one source reconciles over the sources that have it") {
    val a = src((1L, "x", "p"), (2L, "y", "q"))
    val b = src((1L, "x", "p"))
    val out = Reconcile.quorum(Seq("a" -> a, "b" -> b), "id", Seq("city"))
      .as[(Long, String, String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._4, r._5)).toMap
    assert(out(1L) == ((2L, 2L)) && out(2L) == ((1L, 1L)))
  }

  test("non-numeric business keys group correctly (no silent long cast)") {
    val a = Seq(("C-1001", "porto"), ("C-1002", "faro")).toDF("id", "city")
    val b = Seq(("C-1001", "porto"), ("C-1002", "lisboa")).toDF("id", "city")
    val out = Reconcile.quorum(Seq("a" -> a, "b" -> b), "id", Seq("city"))
      .as[(String, String, String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    assert(out("C-1001") == (("porto", 2L)))
    assert(out("C-1002")._2 == 1L, "split vote keeps per-key identity")
  }

  test("vote ties break to the lexicographically smallest value") {
    val a = src((1L, "bbb", "p"))
    val b = src((1L, "aaa", "p"))
    val winner = Reconcile.quorum(Seq("a" -> a, "b" -> b), "id", Seq("city"))
      .select("winner").as[String].head()
    assert(winner == "aaa")
  }
}
