package graft

import graft.metrics.MetricsListener
import org.apache.spark.sql.functions.col

/** The session's codegen cache holds a working set larger than Spark's
  * default 100 entries, so plans that repeat find their compiled classes. */
class GraftSessionSpec extends SparkSpec {

  test("150 distinct plans run twice: the second pass compiles nothing") {
    assert(ss.conf.get("spark.sql.codegen.cache.maxEntries") == GraftSession.CodegenCacheEntries.toString)
    val metrics = new MetricsListener(ss.sparkContext)
    // each literal makes the plan's generated code distinct
    def pass(): Long = {
      val from = metrics.mark()
      (1 to 150).foreach(i => ss.range(0L, 10L, 1L, 1).select(col("id") * i + i).collect())
      metrics.window(from, metrics.mark()).compiles
    }
    try {
      assert(pass() >= 150L, "every plan compiles its own class")
      // With 100 entries, LRU order evicts each class before its reuse and
      // every plan of this pass compiles again.
      assert(pass() == 0L)
    } finally ss.sparkContext.removeSparkListener(metrics)
  }
}
