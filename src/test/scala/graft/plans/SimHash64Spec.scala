package graft.plans

import graft.SparkSpec
import graft.operators.NearDup
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class SimHash64Spec extends SparkSpec {
  import ss.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox"),
    (2L, "the quick brown fox"),
    (3L, "Totally Different Words here"),
    (4L, ""),
    (5L, "  double  spaced   tokens "),
    (6L, "The QUICK brown FOX"),
    (7L, "fox fox fox the the quick brown fox"),
    (8L, null)
  ).toDF("doc_id", "text")

  /** The composed explode×64 form — the q25 oracle's formulation: bit b of
    * each distinct lower-cased word's md5 votes ±1, votes sum per
    * (id, b), and the bits re-assemble in b order per id. Groups by id, so
    * it agrees with the per-row native form only on unique ids. */
  private def composedSimHash(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val words = df.select(idCol.as("id"), explode(array_distinct(split(lower(textCol), " "))).as("w"))
      .filter(col("w") =!= "")
    val bits = words
      .select(col("id"), md5(col("w")).as("h"), explode(sequence(lit(0), lit(63))).as("b"))
      .withColumn("digit", expr("instr('0123456789abcdef', substr(h, CAST(b / 4 AS INT) + 1, 1)) - 1"))
      .withColumn("bit", expr("CAST(floor(digit / power(2, 3 - b % 4)) AS INT) % 2"))
      .withColumn("vote", when(col("bit") === 1, 1).otherwise(-1))
    bits.groupBy("id", "b")
      .agg(sum("vote").as("v"))
      .groupBy("id")
      .agg(concat_ws("", array_sort(collect_list(
        struct(col("b"), when(col("v") >= 0, lit("1")).otherwise(lit("0")).as("s")))).getField("s")).as("simhash"))
  }

  private def byId(df: DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("native expression matches the composed explode-form simhash") {
    // edge rows plus every sf0.001 document, ids kept disjoint
    val corpus = docs.unionByName(Tables.documents(ss, smallSfDir)
      .select((col("doc_id").cast("long") + 1000L).as("doc_id"), col("text")))
    val native = byId(NearDup.simHash(corpus, col("doc_id"), col("text")))
    val composed = byId(composedSimHash(corpus, col("doc_id"), col("text")))
    assert(composed.size > 100, s"corpus too small to mean anything: ${composed.size}")
    // both forms drop token-less docs: composed via explode of the empty
    // set, native via a NULL fingerprint filtered out
    assert(native == composed)
    assert(!native.contains(4L) && !native.contains(8L))
    assert(native(1L) == native(2L) && native(1L) != native(3L))
    assert(native(6L) == native(1L), "words are lower-cased before hashing")
    assert(native(7L) == native(1L), "repeated words vote once")
  }

  test("token-less text → NULL under both eval paths; blank variants too") {
    assert(SimHash64.compute("") == null)
    assert(SimHash64.compute("   ") == null)
    GraftExtensions.register(ss)
    val rows = Seq((1L, ""), (2L, "    "), (3L, "word")).toDF("id", "text")
      .selectExpr("id", "graft_simhash64(text) AS sh").collect()
    assert(rows.count(_.isNullAt(1)) == 2)
    assert(rows.find(_.getLong(0) == 3L).get.getString(1).length == 64)
  }

  test("expression is SQL-visible after registration and survives codegen") {
    GraftExtensions.register(ss)
    docs.createOrReplaceTempView("sh_docs")
    val viaSql = ss.sql("SELECT graft_simhash64(text) AS sh FROM sh_docs WHERE doc_id = 1")
      .collect().head.getString(0)
    assert(viaSql == SimHash64.compute("the quick brown fox"))
    // null input → null out (nullIntolerant)
    val nullOut = ss.sql("SELECT graft_simhash64(CAST(NULL AS STRING))").collect().head
    assert(nullOut.isNullAt(0))
  }
}
