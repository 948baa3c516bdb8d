package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** The registry-wide sweep: every registered verify query is built and run
  * ONCE per config, and four engine-wide properties are checked on those
  * runs.
  *
  *  - Partitioning invariance. Every query must return the SAME rows under
  *    spark.sql.shuffle.partitions = 4 (the test default), 7 (odd,
  *    non-divisor) and 200 (the Spark default a user who didn't read
  *    GraftSession would run with). Each operator claims its results don't
  *    depend on physical partitioning (the md5-derived sampling,
  *    GlobalRank's range-partitioned ordinals, deterministic k-means
  *    seeds…); a regression that sneaks partition-placement dependence into
  *    any query (spark_partition_id leaking into output, a non-total sort
  *    order, first()-style nondeterminism) fails here by name. A partition
  *    id only shows where the query's last stage keeps more than one
  *    partition: AQE coalesces most sf0.001 outputs to one.
  *  - No cartesian products and no broadcast-nested-loop joins outside the
  *    explicit allowlist (SURVEY §5): a 1-row broadcast scalar is fine; an
  *    accidental condition-less join of two corpus-scale sides is not.
  *    Catches the classic regression where a refactor drops a join
  *    condition and the planner silently degrades to O(n·m).
  *  - Unpartitioned windows only at the allowlisted bounded-metadata sites.
  *  - No SILENT whole-stage-codegen fallback (SURVEY §5). When a generated
  *    stage fails to compile (Janino CompileException), Spark by default
  *    logs and re-runs the stage interpreted — correctness holds,
  *    throughput quietly drops (this is how q53's fused-join duplication
  *    bug shipped unnoticed in round 5). With
  *    `spark.sql.codegen.fallback=false` the compile error THROWS instead.
  *
  * The audit config (4 partitions) runs with codegen fallback off, and its
  * plan checks read each frame's initial `executedPlan` (AQE's initial
  * plan) before any action runs on it. Each config runs in its OWN
  * `newSession()` (separate SQLConf over the shared context), so the shared
  * session is never mutated and concurrently-running suites never observe
  * the sweep's conf. That is 3 builds and 3 canonical collects per query
  * (3 × 183 at 183 registered queries). A query that throws is recorded
  * for its config and the sweep goes on; every failure names the query and
  * the config. sf0.001 keeps the sweep inside CI time — the partition
  * COUNT, not the data scale, is the variable under test.
  */
class RegistrySweepSpec extends SparkSpec {
  import RegistrySweepSpec.Sweep

  private val AuditPartitions = 4
  private val Configs = Seq(AuditPartitions, 7, 200)

  private def label(n: Int): String =
    if (n == AuditPartitions) s"partitions=$n, codegen fallback off" else s"partitions=$n"

  private val queries = graft.SparkEntry.queries
  private val names = queries.keys.toSeq.sorted

  /** Order-insensitive, partitioning-insensitive canonical form: columns
    * sorted by name and cast to string, rows rendered and sorted. */
  private def canonical(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`").cast("string"))
    df.select(cols.toIndexedSeq: _*)
      .collect()
      .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("|"))
      .sorted
      .mkString("\n")
  }

  private def attempt[T](body: => T): Either[String, T] =
    try Right(body)
    catch { case e: Throwable =>
      Left(s"${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}") }

  private lazy val sweep: Sweep = {
    val plans = Map.newBuilder[String, Either[String, SparkPlan]]
    val rows = Configs.map { n =>
      val s = ss.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      if (n == AuditPartitions) s.conf.set("spark.sql.codegen.fallback", "false")
      GraftExtensions.register(s)
      n -> names.map { name =>
        val df = attempt(queries(name)(s, smallSfDir))
        if (n == AuditPartitions)
          plans += name -> df.flatMap(d => attempt(d.queryExecution.executedPlan))
        name -> df.flatMap(d => attempt(canonical(d)))
      }.toMap
    }.toMap
    Sweep(plans.result(), rows)
  }

  test("all registered queries are invariant under shuffle-partition sweep (4/7/200)") {
    val base = sweep.rows(AuditPartitions)
    val failed = for {
      n <- Configs
      name <- names
      err <- sweep.rows(n)(name).left.toOption
    } yield s"$name: threw at ${label(n)}: $err"
    val moved = for {
      n <- Configs.tail
      name <- names
      a <- base(name).toOption
      b <- sweep.rows(n)(name).toOption
      if a != b
    } yield s"$name: result moved between partitions=$AuditPartitions and partitions=$n"
    assert(failed.isEmpty && moved.isEmpty,
      s"partitioning-dependent or failing queries:\n${(failed ++ moved).mkString("\n")}")
  }

  /** Queries allowed a BroadcastNestedLoopJoin, with why. */
  private val bnljAllowed: Map[String, String] = Map(
    "q20_cosine_topk" -> "tiny fixed query-vector set vs corpus (bounded side)",
    "q156_ann_recall" -> ("runs q20/q26/q33's list plans to measure their recall — " +
      "inherits exactly q20's and q33's allowlisted broadcast query-set x corpus products; " +
      "the harness's own overlap joins are (qid, nid) equi-joins"),
    "q33_ivf_ann" -> "tiny fixed query-vector set vs corpus (bounded side)",
    "q76_ivf_multiprobe" -> ("same IVF assignment shape as q33 (broadcast centroid cross for the " +
      "packed-long argmax) plus the query-side top-nprobe centroid scoring — both broadcast sides " +
      "are the tiny centroid sample"),
    "q29_cosine_neardup" -> "deliberate all-pairs EXACT baseline (L12); q52 is the LSH scale path",
    "q53_tfidf_topk" -> ("1-row corpus-count aggregate broadcast into the vocabulary-sized dfreq " +
      "frame — a single-row build side is exactly what BNLJ is optimal for (an equi-join on a " +
      "constant key folds back to this), and its codegen is clean since the TopKPerKeyExec " +
      "usedInputs fix"),
    "q72_bm25" -> ("same shape as q53: the 1-row (N, Σdl) corpus-totals aggregate broadcast into " +
      "the |terms|-bounded dfq frame — single-row build side, BNLJ-optimal by construction"),
    "q79_kmeans_assign" -> ("k-means E-step: the k-row seed-centroid set broadcast-crossed with " +
      "the corpus for the packed-long argmin — same bounded-build shape as the IVF assignment"),
    "q80_semantic_prune" -> ("seed assignment inside semanticPrune shares q79's broadcast " +
      "centroid cross; the prune pair join itself is cluster-keyed equality"),
    "q82_proto_prune" -> ("prototypicality pruning ranks q79's assignment output — same " +
      "broadcast centroid cross, then one cid-partitioned window"),
    "q91_lm_quality" -> ("same shape as q53/q72: the 1-row corpus-token-total aggregate " +
      "broadcast into the token stream for the rarity quotient — single-row build side, " +
      "BNLJ-optimal by construction"),
    "q92_dsir_weights" -> ("same 1-row totals-broadcast shape as q91 (corpus/target gram " +
      "totals + vocabulary size crossed into the gram stream)"),
    "q94_collocations" -> ("same 1-row corpus-total broadcast as q53/q72/q91 crossed into " +
      "the supported-pairs frame for the lift quotient"),
    "q98_priority_sample" -> ("the 1-row τ-threshold aggregate broadcast-crossed into the " +
      "k-row sample — single-row build side over a bounded (k-row) stream side"),
    "q106_quantized_ann" -> "tiny fixed query-vector set vs corpus (bounded side), same shape as q20",
    "q108_neg_sample" -> ("the 1-row corpus-count aggregate broadcast-crossed into the ordinal " +
      "frame for the modulus — same single-row build shape as q53/q72"),
    "q112_gap_fill" -> ("the day spine crossed with the group domain — BOTH sides bounded " +
      "metadata (calendar days x event types), the group side broadcast"),
    "q113_dedup_eval" -> ("embeds q29's deliberate all-pairs EXACT baseline as the ground " +
      "truth it measures the LSH pass against — the harness is exactly as expensive as the " +
      "exact baseline it evaluates, by definition"),
    "q119_source_overlap" -> ("pairwiseJaccard's source-pair spine crosses the bounded " +
      "group domain with itself (ga < gb) — both sides are sketch METADATA (distinct " +
      "groups), and everything downstream is k-row-per-group sketch tables"),
    "q124_basket_rules" -> ("the 1-row basket-count aggregate broadcast-crossed into the " +
      "rule frame for the lift denominator — same single-row build shape as q53/q72/q98"),
    "q129_ab_test" -> ("the variant-pair spine (va < vb) self-joins the per-variant " +
      "aggregate — |variants| rows of bounded experiment metadata, the q119 group-pair " +
      "shape; the data-scale work collapsed in the per-variant agg before it"),
    "q145_cluster_sizes" -> ("the singleton row crosses TWO 1-row count aggregates " +
      "(total docs x clustered docs) — both sides single-row by construction"),
    "q148_blocklist_sweep" -> ("the threshold spine (<= maxThreshold rows) joined " +
      "on >= against the metadata-sized critical-count histogram — both sides " +
      "bounded by construction, the q112 spine shape"),
    "q172_heavy_hitters" -> ("the 1-row corpus-total aggregate broadcast-crossed " +
      "into the per-item exact counts for the n/(k+1) guarantee threshold — " +
      "the q124/q145 single-row build shape"))

  test("no registered query plans a cartesian product or stray BNLJ") {
    val offenders = mutable.ArrayBuffer.empty[String]
    val bnljHits = mutable.Set.empty[String]
    names.foreach { name =>
      sweep.plans(name) match {
        case Left(err) => offenders += s"$name: not planned: $err"
        case Right(p) =>
          val plan = p.toString
          if (plan.contains("CartesianProduct"))
            offenders += s"$name: CartesianProduct"
          if (plan.contains("BroadcastNestedLoopJoin")) {
            bnljHits += name
            if (!bnljAllowed.contains(name))
              offenders += s"$name: BroadcastNestedLoopJoin"
          }
      }
    }
    assert(offenders.isEmpty,
      s"scale anti-patterns (${label(AuditPartitions)}):\n${offenders.mkString("\n")}")
    val stale = bnljAllowed.keySet -- bnljHits
    assert(stale.isEmpty,
      s"allowlist entries no longer planning a BroadcastNestedLoopJoin (prune them; " +
        s"${label(AuditPartitions)}): $stale")
  }

  /** Queries allowed an unpartitioned WindowExec (single-partition window),
    * with why each frame is BOUNDED METADATA, not data-scale. These are the
    * only ALLOWLISTED sites that may emit Spark's "No Partition Defined for
    * Window operation" WARN — seeing it anywhere else is a 100TB cliff. */
  private val globalWindowAllowed: Map[String, String] = Map(
    "q107_global_rank" -> ("GlobalRank's prefix-sum frame is the PER-PARTITION " +
      "COUNT table (spark.sql.shuffle.partitions rows, not data rows) — the " +
      "whole point of the operator is that the data-scale sort stays " +
      "partitioned and only partition counts funnel through one task"),
    "q108_neg_sample" -> ("Contrastive rides GlobalRank for its dense ordinals; " +
      "the same partition-count offsets frame plans under both join branches " +
      "of the partner self-join, hence two bounded-metadata window nodes"),
    "q151_wave_schedule" -> ("Waves rides GlobalRank — the same " +
      "partition-count offsets frame as q107; wave id is arithmetic on " +
      "the ordinal"),
    "q161_collections_e2e" -> ("the flagship's wave stage is q151's Waves/" +
      "GlobalRank — the same partition-count offsets frame; everything " +
      "upstream (aging, policy, dunning) is debtor-partitioned aggregates"),
    "q127_concurrency" -> ("Intervals' sweep runs over the CALENDAR-GRAIN " +
      "boundary-event frame (2 rows per interval, bounded by the day spine " +
      "domain at any scale the report is readable at); the scale contract " +
      "is documented at Intervals.scala's sweep"),
    "q98_priority_sample" -> ("prioritySample ranks only the k+1 SURVIVORS of " +
      "the bounded-heap native top-k to split sample vs threshold row — a " +
      "k-bounded frame; the corpus-scale selection never touches a window"),
    "q141_rfm" -> ("exact RFM quintiles percent-rank the PER-CUSTOMER aggregate " +
      "(three windows, one per metric) — the documented honest cost of exact " +
      "global ranks, fine to ~1e7 customers; Rfm.segment(approx = true) is " +
      "the sketch-ranked no-single-partition scale path"),
    "q172_heavy_hitters" -> ("HeavyHitters' merge prune ranks the SUMMED " +
      "per-partition MG counters — a <= k x partitions row frame regardless " +
      "of data scale (that bound is the operator's whole point); the frame " +
      "plans under both the offset aggregate and the survivor filter, hence " +
      "two bounded-metadata window nodes (the q108 double-branch shape)"))

  test("unpartitioned windows appear only at the allowlisted bounded-metadata sites") {
    // AQE wraps the real plan in AdaptiveSparkPlanExec, which exposes no
    // children to TreeNode.collect — descend into it explicitly.
    def unpartWindows(p: SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case a: AdaptiveSparkPlanExec => unpartWindows(a.executedPlan)
      }.flatten
    val offenders = mutable.ArrayBuffer.empty[String]
    val hits = mutable.Set.empty[String]
    names.foreach { name =>
      sweep.plans(name) match {
        case Left(err) => offenders += s"$name: not planned: $err"
        case Right(p) =>
          val unpart = unpartWindows(p)
          if (unpart.nonEmpty) {
            hits += name
            if (!globalWindowAllowed.contains(name))
              offenders += s"$name: ${unpart.size} unpartitioned WindowExec node(s)"
          }
      }
    }
    assert(offenders.isEmpty,
      s"single-partition window outside the allowlist (100TB cliff; ${label(AuditPartitions)}):\n" +
        offenders.mkString("\n"))
    val stale = globalWindowAllowed.keySet -- hits
    assert(stale.isEmpty,
      s"allowlist entries no longer planning an unpartitioned window (prune them; " +
        s"${label(AuditPartitions)}): $stale")
  }

  test("every registered query executes with codegen fallback disabled") {
    val failures = for {
      name <- names
      err <- sweep.rows(AuditPartitions)(name).left.toOption
    } yield s"$name: $err"
    assert(failures.isEmpty,
      s"queries failed under codegen-only execution (${label(AuditPartitions)}):\n" +
        failures.mkString("\n"))
  }
}

object RegistrySweepSpec {

  /** The sweep's results: each query's initial plan at the audit config,
    * and its canonical rows per config — or the error that stopped it. */
  final case class Sweep(plans: Map[String, Either[String, SparkPlan]],
                         rows: Map[Int, Map[String, Either[String, String]]])
}
