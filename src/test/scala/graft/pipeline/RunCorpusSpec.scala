package graft.pipeline

import graft.{RunCorpus, SparkSpec}
import org.apache.spark.sql.functions._

class RunCorpusSpec extends SparkSpec {
  import ss.implicits._

  /** A small English corpus in the `documents` layout: every text uses its
    * own nouns, so few documents merge as near-duplicates and the
    * leakage-safe split spreads them over more than one split. */
  private def writeDocuments(dir: String): Unit = {
    val nouns = Seq("cat", "dog", "house", "garden", "hill", "river", "road", "coast",
      "bridge", "forest", "market", "school", "harbour", "valley", "tower", "field",
      "village", "station", "castle", "meadow", "island", "lake", "farm", "church",
      "mill", "orchard", "library", "museum", "square", "theatre", "palace", "bakery")
    def noun(i: Int, pos: Int) = nouns((i * (2 * pos + 3) + pos * 5) % nouns.size)
    (1 to 48).map { i =>
      (i.toLong, s"the ${noun(i, 0)} and the ${noun(i, 1)} of a ${noun(i, 2)} went to the " +
        s"${noun(i, 3)} by the ${noun(i, 4)} near a ${noun(i, 5)} in the ${noun(i, 6)}")
    }.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
  }

  test("RunCorpus.execute reports the per-split rows and tokens a re-read of its corpus finds") {
    val in = java.nio.file.Files.createTempDirectory("corpus-in").toString
    writeDocuments(in)
    val out = java.nio.file.Files.createTempDirectory("corpus-run").toString
    val s = RunCorpus.execute(ss, in, out)
    val back = ss.read.parquet(s"$out/corpus")
      .groupBy("split").agg(count(lit(1)), sum("ws_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(back.size > 1, s"the corpus should span several splits: $back")
    assert(s.splits == back)
    assert(s.stages.toMap.get("split_total").contains(back.map(_._2).sum),
      s"split_total must count every written row: ${s.stages}")
  }
}
