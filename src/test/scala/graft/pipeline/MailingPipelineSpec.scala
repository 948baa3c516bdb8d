package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MailingPipelineSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("full pipeline produces the canonical layout, both channels, and rejects") {
    val r = MailingPipeline.full(ss, sfDir, humanCutoff = 1500000.0)
    val human = r.human.cache()
    assert(human.columns.toSeq == MailingPipeline.CanonicalColumns)
    val nHuman = human.count()
    val nRobot = r.robot.count()
    assert(nHuman > 0 && nRobot > 0)
    // segmentation is a real partition of the kept set
    assert(human.filter(col("valorDivida") < 1500000.0).count() == 0)
    // rejected side-output carries the reason
    val rej = r.rejected.collect()
    assert(rej.nonEmpty && rej.forall(_.getAs[String]("motivo_remocao") == "AUTOMOBILE"))
    // blocklisted customers (≥3 error events) are gone from both channels
    val blockedIds = graft.sources.Tables.events(ss, sfDir)
      .filter(col("event_type") === "error").groupBy("user_id").count()
      .filter(col("count") >= 3).select("user_id").collect().map(_.getLong(0)).toSet
    val humanIds = human.select("CPF").collect().map(_.getLong(0)).toSet
    assert(blockedIds.intersect(humanIds).isEmpty)
    human.unpersist()
  }

  test("no corpus-scale side carries a user broadcast hint") {
    // Scale guard: the only explicit broadcast hints in the flagship plan
    // must be genuinely bounded sides (nation dim, count-gated blocklist
    // keys). A hint whose subtree scans `orders` (customer-cardinality
    // contacts/debts frames) would OOM at 100×, so its absence is asserted
    // on the analyzed plan — AQE is still free to broadcast at runtime when
    // the measured size is small, which is the scale-safe behavior.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val human = MailingPipeline.full(ss, sfDir).human
    val hints = human.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.nonEmpty, "expected the bounded-dim hints to survive analysis")
    hints.foreach { h =>
      val leaves = h.child.collectLeaves().map(_.toString).mkString("\n")
      assert(!leaves.contains("orders"),
        s"corpus-scale (orders-derived) side under a broadcast hint:\n$leaves")
    }
  }

  test("stage report observes real per-stage row counts") {
    val r = MailingPipeline.full(ss, sfDir)
    val counts = r.report.collect(r.human).toMap
    assert(counts.keySet == Set("blocklist", "aggregates", "status_filter"))
    // sf0.001: 150 customers, 15 blocklisted, then AUTOMOBILE segment rejected
    assert(counts("blocklist") == 135L)
    assert(counts("aggregates") == 135L)
    assert(counts("status_filter") > 0L && counts("status_filter") < 135L)
  }

  test("awaitObserved fails fast, with a clear error, on metrics that never arrive") {
    val never = new org.apache.spark.sql.Observation()
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](StageReport.awaitObserved(never, "a write that never ran", waitSecs = 1))
    assert(e.getMessage.contains("a write that never ran"))
    assert(System.nanoTime() - t0 < 10L * 1000 * 1000 * 1000, "the wait must be bounded")
  }
}
