package graft.operators

import graft.SparkSpec

class SkylineSpec extends SparkSpec {
  import ss.implicits._

  test("2D front: dominated points drop, the trade-off curve survives") {
    //   (5,1) (4,3) (2,4) form the front; (3,2) is dominated by (4,3);
    //   (1,1) dominated by everything.
    val df = Seq((1L, 5L, 1L), (2L, 4L, 3L), (3L, 2L, 4L), (4L, 3L, 2L), (5L, 1L, 1L))
      .toDF("id", "a", "b")
    val front = Skyline.paretoFront(df, Seq("a", "b")).select("id").as[Long].collect().toSet
    assert(front == Set(1L, 2L, 3L))
  }

  test("ties on every dimension are BOTH kept; result is partitioning-invariant") {
    val df = Seq((1L, 5L, 5L), (2L, 5L, 5L), (3L, 4L, 6L), (4L, 1L, 1L))
      .toDF("id", "a", "b")
    val f1 = Skyline.paretoFront(df, Seq("a", "b")).select("id").as[Long].collect().toSet
    val f2 = Skyline.paretoFront(df.repartition(8), Seq("a", "b"))
      .select("id").as[Long].collect().toSet
    assert(f1 == Set(1L, 2L, 3L) && f2 == f1)
  }

  test("single criterion degenerates to argmax (with ties)") {
    val df = Seq((1L, 9L), (2L, 9L), (3L, 7L)).toDF("id", "a")
    val f = Skyline.paretoFront(df, Seq("a")).select("id").as[Long].collect().toSet
    assert(f == Set(1L, 2L))
  }

  test("anti-correlated blowup fails loudly at the survivor cap") {
    // strictly decreasing b over increasing a: every point is on the front
    val df = (1L to 100L).map(i => (i, i, 101L - i)).toDF("id", "a", "b")
    intercept[IllegalArgumentException] {
      Skyline.paretoFront(df, Seq("a", "b"), maxSurvivors = 10L).collect()
    }
  }

  test("matches the brute-force NOT EXISTS definition on random data") {
    val rows = (1 to 300).map { i =>
      (i.toLong, (i * 2654435761L) % 50, (i * 40503L) % 50)
    }
    val df = rows.toDF("id", "a", "b")
    val got = Skyline.paretoFront(df, Seq("a", "b")).select("id").as[Long].collect().toSet
    val want = rows.filter { case (_, a, b) =>
      !rows.exists { case (_, a2, b2) => a2 >= a && b2 >= b && (a2 > a || b2 > b) }
    }.map(_._1).toSet
    assert(got == want)
  }
}
