package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-dup admission against a persisted SIGNATURE store —
  * the production form of corpus dedup at 100 TB: history is kept as a
  * MinHash signature table (numHashes small integers per document, a
  * ~10⁴× reduction over text), and each new batch is admitted by probing
  * that store. The historical corpus is never re-shingled, never re-read;
  * the store grows by exactly the admitted batch's signatures.
  *
  * Matching is SIGNATURE agreement: two documents "match" when at least
  * `minAgree` of their `numHashes` MinHash components are equal —
  * E[agreement/numHashes] = Jaccard, so `minAgree = ceil(numHashes·t)`
  * targets shingle-Jaccard t (integer-exact decision, no float
  * threshold). Exact-Jaccard re-verification is impossible by design
  * here: the store holds no text — the same trade every
  * signature-store dedup service makes, and [[DedupEval]] is the harness
  * that measures what the estimator costs on YOUR corpus before you
  * trust it.
  *
  * Admission contract (deterministic):
  *   1. a new document matching ANY store document is rejected (the
  *      store member stays canonical — history wins);
  *   2. survivors are clustered intra-batch ([[DupClusters]] connected
  *      components over agreement edges) and each cluster admits only
  *      its MINIMUM id (the canonical-min convention of q42).
  *
  * Scale shape: one signature projection over the new batch (narrow),
  * LSH band-bucket equi-joins for both the store probe and the
  * intra-batch candidates (shuffle keys are band buckets, never
  * all-pairs), agreement checked only on candidate pairs by joining the
  * two k-integer signature rows. `maxBucketSize` drops degenerate
  * buckets on BOTH probes (a boilerplate bucket of f store docs ×
  * matching new docs costs f·m candidate rows; cap it and let exact L1
  * dedup own the pathological identical-text clusters).
  */
object IncrementalDedup {

  /** Admission outcome: the admitted rows of `newDocs` (full original
    * columns), the grown store, and per-rejection audit frames. */
  final case class Admission(admitted: DataFrame, store: DataFrame,
                             rejectedByStore: DataFrame, rejectedIntraBatch: DataFrame)

  /** An empty signature store with the exact schema [[admit]] maintains.
    * Built from the bare signature projection (no spread/checkpoint), so
    * the optimizer folds it to an empty LocalRelation: costs zero jobs to
    * create, and [[admit]] can PROVE the bootstrap store is empty and
    * skip the store probe entirely. */
  def emptyStore(spark: SparkSession, k: Int, numHashes: Int): DataFrame = {
    import spark.implicits._
    NearDup.sigProjection(
      Seq.empty[(Long, String)].toDF("id", "text"), col("id"), col("text"), k, numHashes)
  }

  /** True iff `df` optimizes to a zero-row LocalRelation — a planning-only
    * probe (no job). False for anything RDD- or scan-backed, even if it
    * happens to hold zero rows: provable emptiness, not observed. */
  private def provablyEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.isEmpty
      case _ => false
    }

  /** Sum of per-component signature agreements between aliases `a.`/`b.`. */
  private def agreement(numHashes: Int): Column =
    (0 until numHashes)
      .map(i => when(col(s"a.mh_$i") === col(s"b.mh_$i"), 1).otherwise(0))
      .reduce(_ + _)

  /** Admit `newDocs` against `store` (a [[NearDup.minHashSignatures]]
    * table — bootstrap with [[emptyStore]]). Ids must be numeric and
    * unique across the store AND the batch (they key the store).
    *
    * @param minAgree matching components required (1..numHashes);
    *                 `ceil(numHashes · t)` targets Jaccard t */
  def admit(newDocs: DataFrame, idCol: Column, textCol: Column, store: DataFrame,
            k: Int, numHashes: Int, rowsPerBand: Int, minAgree: Int,
            maxBucketSize: Long = Long.MaxValue): Admission = {
    require(minAgree >= 1 && minAgree <= numHashes,
      s"minAgree in 1..$numHashes, got $minAgree")
    require(numHashes % rowsPerBand == 0,
      s"rowsPerBand $rowsPerBand must divide numHashes $numHashes")
    // Signatures of the batch: computed once, tiny (numHashes ints/row) —
    // referenced by both probes and the final store union.
    val sigs = NearDup.minHashSignatures(newDocs, idCol, textCol, k, numHashes)
      .localCheckpoint(true)

    // Probe 1 — new vs store: band-bucket equi-join, agreement on
    // candidates. BOTH sides cap degenerate buckets: a batch of f
    // boilerplate near-identicals sharing a bucket with m store docs
    // would otherwise emit f·m candidate rows per band even when the
    // store bucket is under the cap.
    // Bootstrap short-circuit: against a PROVABLY empty store (the
    // [[emptyStore]] LocalRelation) the probe is rejection-free by
    // construction — skip its band build, three joins and two eager
    // checkpoints (several jobs + their planning gaps per bootstrap
    // batch). The empty rejection frame keeps the exact output schema
    // (Filter(false) over it folds to an empty LocalRelation — no job),
    // and the survivors ARE the batch signatures, already checkpointed.
    val storeEmpty = provablyEmpty(store)
    val rejectedByStore =
      if (storeEmpty)
        // same groupBy+min shape as the probe path so the schema (incl.
        // nullability) matches by construction; Filter(false) folds the
        // whole thing to an empty LocalRelation — no job
        sigs.where(lit(false))
          .groupBy(col("id"))
          .agg(min(col("id").cast(store.schema("id").dataType))
            .as("matched_store_id"))
      else {
        def capped(sigTable: DataFrame) = NearDup.capBuckets(
          NearDup.bandedKeys(sigTable, rowsPerBand), Seq("band", "bucket"), maxBucketSize)
        val nb = capped(sigs).select(col("id").as("nid"), col("band"), col("bucket"))
        val sb = capped(store)
          .select(col("id").as("sid"), col("band"), col("bucket"))
        nb.join(sb, Seq("band", "bucket"))
          .select("nid", "sid").distinct()
          .join(sigs.as("a"), col("nid") === col("a.id"))
          .join(store.as("b"), col("sid") === col("b.id"))
          .where(agreement(numHashes) >= minAgree)
          .groupBy(col("nid").as("id"))
          .agg(min(col("sid")).as("matched_store_id"))
          .localCheckpoint(true)
      }
    val survivors =
      if (storeEmpty) sigs
      else sigs.join(rejectedByStore.select("id"), Seq("id"), "left_anti")
        .localCheckpoint(true)

    // Probe 2 — intra-batch: LSH candidates among survivors, agreement
    // edges, connected components, keep each cluster's min id.
    val edges = NearDup.lshCandidates(survivors, rowsPerBand, maxBucketSize)
      .select("id_a", "id_b")
      .join(survivors.as("a"), col("id_a") === col("a.id"))
      .join(survivors.as("b"), col("id_b") === col("b.id"))
      .where(agreement(numHashes) >= minAgree)
      .select("id_a", "id_b")
    val rejectedIntraBatch = DupClusters.connectedComponents(edges)
      .where(col("id") =!= col("cluster_id"))
      .select(col("id"), col("cluster_id").as("kept_id"))
      .localCheckpoint(true)

    val admittedSigs = survivors
      .join(rejectedIntraBatch.select("id"), Seq("id"), "left_anti")
    // Admission by NOT-rejected (not by has-a-signature): documents too
    // short to shingle carry no signature and can match nothing — they are
    // admitted unchanged and contribute nothing to the store, never
    // silently dropped.
    // The rejected-id frame's column is renamed before the anti-join: a
    // caller whose document id column is itself named "id" would otherwise
    // make col("id") ambiguous between the two join sides.
    val rejectedIds = rejectedByStore.select("id")
      .union(rejectedIntraBatch.select("id"))
      .withColumnRenamed("id", "__rejected_id")
    val admitted = newDocs.join(rejectedIds,
      idCol.cast("long") === col("__rejected_id"), "left_anti")
    Admission(admitted, store.unionByName(admittedSigs),
      rejectedByStore, rejectedIntraBatch)
  }
}
