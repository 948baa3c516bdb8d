package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint discipline for the iterative operators ([[Graph]],
  * [[DupClusters]]): a loop input referenced once per round must be cut
  * from its upstream DAG exactly once — but cutting an input that is
  * ALREADY materialized re-stores every row as deserialized JVM objects
  * for nothing. At sf1 the BFS edge frame (24M rows, symmetrize = a
  * union of two projections over an already-checkpointed edge set) spent
  * 266 s of task time in GC re-materializing what one cached-block scan
  * per round re-derives in under a second (round-14 profiling). */
object Checkpoints {

  /** [[broadcastWithin]]'s limit for node-sized sides (labels, BFS
    * frontier, degree and adjacency tables, peel drops): 20M rows of
    * (long, long) ≈ a ~320MB hashed relation, well inside Spark's
    * broadcast hard caps (8 GB / 512M rows). */
  val BroadcastRowLimit = 20000000L

  /** [[broadcastWithin]]'s limit for an LSH candidate-pair set ([[NearDup]]). */
  val CandidateBroadcastRowLimit = 5000000L

  /** `broadcast(df)` when `rows`, a count of `df` the operator already
    * took (never a new job), is within `limit`; else `df` unhinted. A hint
    * bypasses autoBroadcastJoinThreshold, so past the limit the join
    * degrades to a planner-chosen shuffle join instead of aborting at the
    * hard caps. */
  def broadcastWithin(df: DataFrame, rows: Long, limit: Long = BroadcastRowLimit): DataFrame =
    if (rows <= limit) broadcast(df) else df

  /** AQE's byte-based partition coalescing cannot see CPU-dense shuffles:
    * an iterative op's dedup/min-agg over edge-scale input map-side-
    * combines to ~1MB of (node, label) partials, and the default 1MB
    * `minPartitionSize` floor then funnels a multi-million-row final
    * aggregate into ONE task (q109's 7 s hot task at sf1, round 14).
    * Round 14 fixed that with a session-GLOBAL 16KB floor — which taxed
    * every tiny stage of every query with ~32-task scheduling overhead
    * (q126's 5 peel rounds read 1.8x slower at sf0.1, round-15
    * adjudication of the r14 verdict's weak row). The floor is therefore
    * SCOPED: the iterative loops whose aggregates need spreading run
    * their eager per-round actions inside this bracket, everything else
    * keeps Spark's default byte-based coalescing.
    *
    * The floor is [[LoopFloor]]; the global-versus-scoped verdict is
    * recorded in BASELINE.md (round-15 q102/q103 probes, round-16 q100
    * adjudication).
    *
    * Concurrency contract: the conf is session-level, so OTHER queries
    * running on the same session during the bracket also see the low
    * floor — harmless (a conservative coalesce floor never changes
    * results) and accepted because the engine's entry points run
    * sequentially per session; spec-pinned. What would NOT be harmless is
    * two overlapping brackets corrupting each other's restore (thread A
    * restores while thread B still iterates, or B "restores" A's floor as
    * the pre-value), so brackets REFERENCE-COUNT per session: only the
    * first entry snapshots the pre-value, only the last exit restores —
    * nested and concurrent brackets are safe by construction. */
  def withSpreadFloor[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    // Snapshot-and-set and restore both run INSIDE the per-key atomic
    // compute: done outside, a first-entry snapshot racing a last-exit
    // restore could read the floor itself as the "pre-value" and leak it
    // session-wide, or restore while another bracket still runs (round-16
    // review — the refcount alone only serialized the depth bookkeeping).
    bracketDepth.compute(spark, (_, d) =>
      if (d == null) {
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, LoopFloor)
        BracketState(1, prev)
      } else d.copy(depth = d.depth + 1))
    try body
    finally bracketDepth.compute(spark, (_, d) =>
      if (d.depth == 1) {
        d.prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
        null
      } else d.copy(depth = d.depth - 1))
  }

  /** The AQE `minPartitionSize` inside a [[withSpreadFloor]] bracket. */
  val LoopFloor = "16k"

  private case class BracketState(depth: Int, prev: Option[String])
  private val bracketDepth =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, BracketState]()

  /** Raise a frame's partition count to the session's default parallelism
    * when its planned RDD yields fewer partitions — CPU-dense per-row
    * stages (shingling, minhash signatures, scoring gates: milliseconds
    * of CPU per document) must not inherit a small file's 1-2-split
    * parallelism, or the whole corpus runs through one task (q165's 32 s
    * whale; the q146/q149/q150 single-row-group scan+shingle skew-ok
    * class, round 15). The probe (`toRdd.getNumPartitions`) runs ONLY on
    * narrow-over-leaf plans — scan/checkpoint/literal under
    * project/filter/union — where it is genuinely planning-only (file
    * listing, no jobs). On any plan containing an exchange, AQE's
    * `toRdd` MATERIALIZES every intermediate query stage and throws the
    * work away (round-15 review finding: probing a sort-merge semi-join
    * input would shuffle the whole corpus per probe), so wider frames
    * skip the probe entirely — they sit above a shuffle and already
    * carry `spark.sql.shuffle.partitions`-grade parallelism. The spread
    * path cuts lineage with an eager checkpoint: a bare repartition is
    * porous — Catalyst pushes filters and projections through it,
    * putting the expensive expressions right back in the single scan
    * task. The cut is bounded by construction: the branch only fires
    * for inputs with fewer splits than cores, i.e. small files. */
  def spreadForCpu(df: DataFrame): DataFrame =
    if (fewSplit(df)) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(eager = true)
    else df

  /** True when `df` is a narrow-over-leaf batch frame whose PLANNED
    * partition count is below the session's default parallelism — the
    * "small file about to starve a CPU-dense stage" predicate behind
    * [[spreadForCpu]], exposed so operators can also gate STRUCTURAL
    * choices on it (q100 checkpoints+spreads its candidate set only on
    * few-split corpora: at real scale the same checkpoint is a barrier
    * that serializes otherwise-overlapping stages — measured +2.6-3.6 s
    * at sf1, round 16). False for anything where the probe would not be
    * planning-only: streaming plans (toRdd throws), plans with exchanges
    * (AQE's toRdd materializes every query stage), subquery-bearing plans
    * (toRdd executes the subquery's jobs — round-16 advice; latent). */
  def fewSplit(df: DataFrame): Boolean = {
    if (df.isStreaming) return false // a stream's micro-batch parallelism
    // is the source's concern anyway
    def narrowOverLeaf(p: LogicalPlan): Boolean = p match {
      // a scalar/IN subquery hides a whole child PLAN inside an
      // expression: the node still looks narrow-over-leaf, but probing
      // toRdd would execute the subquery's jobs (and AQE wraps
      // subquery-bearing plans), breaking the planning-only guarantee
      case _ if p.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])) => false
      case _: Project | _: Filter | _: Union => p.children.forall(narrowOverLeaf)
      case _ => p.children.isEmpty // any leaf: file scan, LogicalRDD, literal
    }
    narrowOverLeaf(df.queryExecution.optimizedPlan) &&
      df.queryExecution.toRdd.getNumPartitions <
        df.sparkSession.sparkContext.defaultParallelism
  }

  /** `df.localCheckpoint(eager = true)` — unless the optimized plan is
    * already scan-cheap: only narrow, shuffle-free operators (project /
    * filter / union) over already-materialized leaves (a checkpoint's
    * `LogicalRDD`, or a literal `LocalRelation`). Re-running such a plan
    * costs one pass over cached blocks, so checkpointing it again buys
    * no lineage or recompute protection worth a second full copy of the
    * data in block storage. Anything wider — a join, an aggregate, a
    * window, a parquet scan (re-read per round beats nothing) —
    * checkpoints as before. At sf0.1 on a 4-core host, counting the
    * symmetrized edge union over a checkpoint read 0.52 s, checkpointing
    * it again 0.81 s and a serialized persist 1.59 s. */
  def materializeOnce(df: DataFrame): DataFrame = {
    def scanCheap(p: LogicalPlan): Boolean = p match {
      case _: LogicalRDD | _: LocalRelation => true
      case _: Project | _: Filter | _: Union => p.children.forall(scanCheap)
      case _ => false
    }
    if (scanCheap(df.queryExecution.optimizedPlan)) df
    else df.localCheckpoint(eager = true)
  }
}
