package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source quorum reconciliation: N systems each claim per-key field
  * values (CRM vs billing vs warehouse); per (key, field) the value with
  * the most votes wins, ties break deterministically, and disagreements
  * are flagged instead of silently averaged — the cross-SYSTEM sibling of
  * [[RecordLinkage]]'s within-source golden records and the multi-way
  * generalization of [[SnapshotDiff]]'s two-sided compare.
  *
  * Scale shape: one tagged union + one in-row melt (each row explodes to
  * |fields| votes — a narrow projection, no join), ONE map-side-combinable
  * (key, field, value) vote count, then winner selection through the C1
  * bounded-heap top-1 per (key, field) — no window sort over the vote
  * table. Null claims are abstentions: they vote for nothing and don't
  * count toward presence (a source missing the row entirely is the same
  * as claiming null).
  *
  * Output: (key, field, winner, votes, n_votes_cast, disputed) — disputed
  * when any cast vote disagrees with the winner.
  */
object Reconcile {

  /** `sources` are (sourceName, frame) pairs sharing `keyCol` and every
    * column in `fields`. Winner tiebreak: lexicographically smallest
    * value among max-vote values. */
  def quorum(sources: Seq[(String, DataFrame)], keyCol: String,
             fields: Seq[String]): DataFrame = {
    require(sources.size >= 2, "quorum needs >= 2 sources")
    require(fields.nonEmpty, "quorum needs >= 1 field")
    // Keys keep their native type (string business keys group fine; a
    // long cast would null every non-numeric key and pool all votes).
    val tagged = sources.map { case (_, df) =>
      df.select(col(keyCol).as("key") +:
        fields.map(f => col(f).cast("string").as(f)): _*)
    }.reduce(_ unionByName _)
    val votes = tagged
      .select(col("key"), explode(array(fields.map(f =>
        struct(lit(f).as("field"), col(f).as("value"))): _*)).as("fv"))
      .select(col("key"), col("fv.field").as("field"), col("fv.value").as("value"))
      .where(col("value").isNotNull)
      .groupBy("key", "field", "value").agg(count(lit(1)).as("votes"))
    // Winner + vote total in ONE aggregation over the vote table: the
    // previous top-1-per-(key,field) + separate cast-count + rejoin
    // consumed `votes` twice — and `votes` is not checkpointed (it is
    // data-scale: rows × fields), so its whole upstream (tagged union +
    // melt + vote count) executed twice and the rejoin paid a third
    // (key, field) exchange (round-18; q133's plan drops from 5
    // Exchanges + a join to 3 Exchanges, no join). min(struct(-votes,
    // value)) IS the old ordering — max votes first, lexicographically
    // smallest value among ties — so winners are bit-identical.
    votes.groupBy("key", "field")
      .agg(min(struct((-col("votes")).as("nv"), col("value"))).as("w"),
        sum("votes").as("n_votes_cast"))
      .select(col("key"), col("field"), col("w.value").as("winner"),
        (-col("w.nv")).as("votes"), col("n_votes_cast"),
        when(-col("w.nv") < col("n_votes_cast"), 1L).otherwise(0L).as("disputed"))
  }
}
