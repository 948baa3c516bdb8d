package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming privacy-gated aggregate release (SURVEY §2b S16): the
  * streaming sibling of [[graft.operators.Privacy.releaseAggregates]] —
  * per-entity contribution capping and k-anonymity suppression over an
  * unbounded contribution stream, with the released running totals
  * continuously republished as groups cross the k-entity floor.
  *
  * Two-tier state, each tier bounded:
  *   - **State store** (per (group, entity) key): ONE counter — rows
  *     admitted so far, saturating at the cap. `flatMapGroupsWithState`
  *     admits a batch's rows in tie order until the cap and emits at most
  *     one [[Delta]] per touched key per batch, carrying a `newEntity`
  *     flag the first time a (group, entity) pair is ever seen. No
  *     per-group map of entities anywhere — the distinct-entity count the
  *     k-gate needs is the running sum of those flags.
  *   - **Lake** (per group): running (n_entities, n_rows, sum_v) totals,
  *     merged per micro-batch in `foreachBatch` and published as
  *     batchId-numbered versions with a commit marker. Replayed batches
  *     (at-least-once `foreachBatch`) find their version already
  *     committed and skip — the merge is applied exactly once per batch
  *     even though delivery isn't.
  *
  * Release semantics match the batch operator on the data seen so far:
  * [[releasable]] filters the latest totals to `n_entities >= k`. A group
  * below the floor stays invisible; it appears — with its FULL capped
  * history, nothing lost — once enough distinct entities have
  * contributed. Cross-batch arrival order decides which rows a
  * cap discards (the streaming-inherent difference from the batch
  * operator's global tie order; within a batch, tie order is honored).
  */
object StreamPrivacyGate {

  /** One contribution: group key (pre-concatenated dims), privacy entity,
    * deterministic tie, integer measure. */
  final case class Contribution(grp: String, entity: Long, tie: Long, v: Long)
  final case class EntityState(taken: Long)
  /** Per-(group, entity) admission delta for one micro-batch. */
  final case class Delta(grp: String, entity: Long, dn: Long, dsum: Long, newEntity: Boolean)

  /** Stage 1: admit up to `maxPerEntity` rows per (group, entity) across
    * the whole stream; emit per-batch deltas. Works on batch frames too
    * (the spec's parity harness). */
  def cappedDeltas(rows: Dataset[Contribution], maxPerEntity: Int): Dataset[Delta] = {
    require(maxPerEntity > 0, s"maxPerEntity must be positive, got $maxPerEntity")
    implicit val deltaEnc = Encoders.product[Delta]
    implicit val stateEnc = Encoders.product[EntityState]
    implicit val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    rows.groupByKey(r => (r.grp, r.entity))
      .flatMapGroupsWithState[EntityState, Delta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((grp, entity), batch, state: GroupState[EntityState]) =>
          val first = !state.exists
          val taken = state.getOption.map(_.taken).getOrElse(0L)
          val room = maxPerEntity - taken
          if (room <= 0) Iterator.empty
          else {
            val admitted = batch.toSeq.sortBy(r => (r.tie, r.v)).take(room.toInt)
            if (admitted.isEmpty) Iterator.empty
            else {
              state.update(EntityState(taken + admitted.size))
              Iterator.single(Delta(grp, entity, admitted.size.toLong,
                admitted.map(_.v).sum, first))
            }
          }
      }
  }

  /** Latest committed running totals: (grp, n_entities, n_rows, sum_v). */
  def readTotals(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedStore.readLatest(spark, stateDir, "")

  /** Stage 2 (one micro-batch): fold a batch of deltas into the published
    * running totals under `stateDir/b<batchId>`. Skips if that version is
    * already committed — replay-idempotent. Public so the spec and batch
    * backfills drive the exact code the stream runs. */
  def applyBatch(deltas: DataFrame, stateDir: String, batchId: Long): Unit = {
    VersionedStore.commitBatch(deltas.sparkSession, stateDir, batchId) { latest =>
      val batchAgg = deltas.groupBy("grp")
        .agg(sum(when(col("newEntity"), 1L).otherwise(0L)).as("n_entities"),
          sum(col("dn")).as("n_rows"), sum(col("dsum")).as("sum_v"))
      val merged = latest("") match {
        case None => batchAgg
        case Some(prev) =>
          prev.select(col("grp"), col("n_entities").as("pe"), col("n_rows").as("pn"),
              col("sum_v").as("ps"))
            .join(batchAgg, Seq("grp"), "full_outer")
            .select(col("grp"),
              (coalesce(col("pe"), lit(0L)) + coalesce(col("n_entities"), lit(0L))).as("n_entities"),
              (coalesce(col("pn"), lit(0L)) + coalesce(col("n_rows"), lit(0L))).as("n_rows"),
              (coalesce(col("ps"), lit(0L)) + coalesce(col("sum_v"), lit(0L))).as("sum_v"))
      }
      // Merge reads the previous version lazily; materialize before publish
      // so the write never interleaves with its own read.
      Seq("" -> merged.localCheckpoint(true))
    }
  }

  /** The release: groups at or past the k-entity floor, from the latest
    * committed totals. Empty frame before the first commit. */
  def releasable(spark: SparkSession, stateDir: String, kEntities: Int): DataFrame = {
    require(kEntities > 0, s"kEntities must be positive, got $kEntities")
    readTotals(spark, stateDir) match {
      case Some(t) => t.where(col("n_entities") >= kEntities)
      case None =>
        import spark.implicits._
        Seq.empty[(String, Long, Long, Long)]
          .toDF("grp", "n_entities", "n_rows", "sum_v").limit(0)
    }
  }

  /** Wire the full gate: contributions → capped deltas → published
    * running totals. Read the release with [[releasable]]. */
  def sink(rows: Dataset[Contribution], maxPerEntity: Int,
           stateDir: String, checkpointDir: String): StreamingQuery =
    cappedDeltas(rows, maxPerEntity).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Delta], batchId: Long) =>
        applyBatch(batch.toDF(), stateDir, batchId)
      }
      .start()
}
