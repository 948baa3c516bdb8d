package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[DistinctSketch]] — KMV estimates (exact small-group branch +
  * estimator accuracy), sketch mergeability, and set-overlap estimation
  * against exact Jaccard. */
class DistinctSketchSpec extends SparkSpec {
  import ss.implicits._

  test("portableHash48 stays in [0, 2^48) and is deterministic") {
    val hs = (1 to 500).map(i => ("g", i.toLong)).toDF("g", "v")
      .select(DistinctSketch.portableHash48(col("v")).as("h"))
      .as[Long].collect()
    assert(hs.forall(h => h >= 0L && h < DistinctSketch.HashDomain))
    val hs2 = (1 to 500).map(i => ("g", i.toLong)).toDF("g", "v")
      .select(DistinctSketch.portableHash48(col("v")).as("h"))
      .as[Long].collect()
    assert(hs.toSeq == hs2.toSeq)
  }

  test("a group smaller than k is counted exactly (duplicates collapse)") {
    val df = (Seq.fill(10)(1L) ++ Seq(2L, 3L, 4L)).map(("a", _)).toDF("g", "v")
    val out = DistinctSketch.groupDistinct(df, col("g"), col("v"), k = 64)
      .as[(String, Long, Long, Long)].head()
    assert(out._2 == 4L && out._4 == 4L) // n_kept = est = exact distinct
  }

  test("the estimator lands within 25% of truth at k=256 over 10k distinct values") {
    val df = (1L to 10000L).map(v => ("a", v)).toDF("g", "v")
    val est = DistinctSketch.groupDistinct(df, col("g"), col("v"), k = 256)
      .as[(String, Long, Long, Long)].head()._4
    assert(est > 7500L && est < 12500L, s"estimate $est far from 10000")
  }

  test("sketches merge: re-bottom-k of unioned sketches == sketch of unioned data") {
    val d1 = (1L to 3000L).map(("a", _)).toDF("g", "v")
    val d2 = (2000L to 5000L).map(("a", _)).toDF("g", "v")
    val k = 128
    val merged = TopK.topKPerKeyNative(
      DistinctSketch.kmvSketch(d1, col("g"), col("v"), k)
        .union(DistinctSketch.kmvSketch(d2, col("g"), col("v"), k))
        .distinct(),
      Seq(col("grp")), Seq(col("h").asc), k)
    val direct = DistinctSketch.kmvSketch(d1.union(d2), col("g"), col("v"), k)
    assert(merged.as[(String, Long)].collect().toSet ==
      direct.as[(String, Long)].collect().toSet)
  }

  test("pairwiseJaccard estimates true overlap within 0.15 at k=256") {
    // |A|=4000, |B|=4000, |A∩B|=2000 → true J = 2000/6000 = 0.333
    val a = (1L to 4000L).map(("a", _))
    val b = (2001L to 6000L).map(("b", _))
    val sketch = DistinctSketch.kmvSketch((a ++ b).toDF("g", "v"),
      col("g"), col("v"), k = 256)
    val row = DistinctSketch.pairwiseJaccard(sketch, k = 256)
      .as[(String, String, Long, Long, Long)].head()
    assert(row._1 == "a" && row._2 == "b" && row._3 == 256L)
    val j = row._5 / 1e6
    assert(math.abs(j - 1.0 / 3.0) < 0.15, s"jaccard_ppm ${row._5} far from 333333")
  }

  test("disjoint and identical sets hit the jaccard extremes") {
    val a = (1L to 2000L).map(("a", _))
    val c = (1L to 2000L).map(("c", _))       // identical to a
    val d = (100000L to 102000L).map(("d", _)) // disjoint from both
    val sketch = DistinctSketch.kmvSketch((a ++ c ++ d).toDF("g", "v"),
      col("g"), col("v"), k = 128)
    val out = DistinctSketch.pairwiseJaccard(sketch, k = 128)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    assert(out(("a", "c")) == 1000000L)
    assert(out(("a", "d")) == 0L && out(("c", "d")) == 0L)
  }

  test("k validation") {
    intercept[IllegalArgumentException] {
      DistinctSketch.kmvSketch(Seq(("a", 1L)).toDF("g", "v"), col("g"), col("v"), 1)
    }
  }

  test("noveltyEstimate: subset reads 0, disjoint reads ~100%, exact under k") {
    def sk(vals: Seq[Long]) = DistinctSketch.kmvSketch(
      vals.map(("g", _)).toDF("g", "v"), col("g"), col("v"), 64)
    // new ⊂ ref (nothing novel): union == ref → novelty 0
    val sub = DistinctSketch.noveltyEstimate(sk(1L to 20L), sk(1L to 50L), 64)
      .as[(String, Long, Long, Long, Long, Long)].head()
    assert(sub == (("g", 20L, 50L, 50L, 0L, 0L)), s"got $sub")
    // disjoint, both under k → exact: novelty_abs == |new|, ppm == 1e6
    val dis = DistinctSketch.noveltyEstimate(sk(1L to 20L), sk(100L to 129L), 64)
      .as[(String, Long, Long, Long, Long, Long)].head()
    assert(dis == (("g", 20L, 30L, 50L, 20L, 1000000L)), s"got $dis")
    // half-overlap: 10 of new's 20 unseen → 500000 ppm exactly (under k)
    val half = DistinctSketch.noveltyEstimate(sk(1L to 20L), sk(11L to 40L), 64)
      .as[(String, Long, Long, Long, Long, Long)].head()
    assert(half == (("g", 20L, 30L, 40L, 10L, 500000L)), s"got $half")
  }

  test("noveltyEstimate stays within 20% of truth past k (estimator regime)") {
    val ref = (1L to 3000L)
    val newSide = (2001L to 5000L) // 2000 of 3000 novel
    def sk(vals: Seq[Long]) = DistinctSketch.kmvSketch(
      vals.map(("g", _)).toDF("g", "v"), col("g"), col("v"), 256)
    val out = DistinctSketch.noveltyEstimate(sk(newSide), sk(ref), 256)
      .select("novelty_ppm").as[Long].head()
    assert(math.abs(out - 666666L) < 140000L, s"truth ~667k ppm, got $out")
  }
}
