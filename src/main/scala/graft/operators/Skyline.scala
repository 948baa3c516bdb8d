package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}

/** Distributed Pareto skyline: the rows not dominated on a set of
  * MAXIMIZED criteria (q dominates p iff q ≥ p on every dimension and
  * q > p on at least one). The multi-criteria selection operator behind
  * "best documents by quality AND length AND freshness" style curation —
  * no scalarized weight picking, the full trade-off front.
  *
  * Two phases (the classic distributed-skyline shape):
  *  1. LOCAL skyline per partition — an in-memory dominance filter via
  *     `mapPartitions` (the per-partition-imperative extension case, like
  *     [[HeavyHitters]]: the pairwise dominance test has no Catalyst
  *     equivalent). A point dominated locally is dominated globally, so
  *     this prunes without false negatives; survivors are typically tiny
  *     (points on or near the front).
  *  2. GLOBAL skyline over the gathered survivors — the same filter on
  *     one coalesced partition. Correct because domination is transitive
  *     and phase 1 only ever removes dominated points.
  *
  * Worst case (fully anti-correlated dimensions) the front IS the corpus
  * and no algorithm shrinks it; `maxSurvivors` caps phase-2 memory and
  * fails loudly rather than silently truncating the front.
  *
  * Determinism: the skyline is a SET (no ordering, no ties to break) —
  * partitioning changes evaluation order, never membership.
  */
object Skyline {

  /** In-memory dominance filter: keeps the non-dominated rows of `rows`
    * under maximize-all semantics over `dims` column indices. O(n·front)
    * — fine for per-partition / survivor-set sizes. */
  private def localFront(rows: Iterator[Row], dims: Array[Int]): Iterator[Row] = {
    val front = scala.collection.mutable.ArrayBuffer.empty[Row]
    def dominates(a: Row, b: Row): Boolean = {
      var ge = true; var gt = false; var i = 0
      while (i < dims.length && ge) {
        val x = a.getLong(dims(i)); val y = b.getLong(dims(i))
        if (x < y) ge = false else if (x > y) gt = true
        i += 1
      }
      ge && gt
    }
    rows.foreach { r =>
      if (!front.exists(f => dominates(f, r) || sameOn(f, r, dims))) {
        val survived = front.filterNot(f => dominates(r, f))
        front.clear(); front ++= survived; front += r
      } else if (!front.exists(f => dominates(f, r))) {
        // equal on all dims to an existing front member: keep both
        front += r
      }
    }
    front.iterator
  }

  private def sameOn(a: Row, b: Row, dims: Array[Int]): Boolean = {
    var i = 0
    while (i < dims.length) {
      if (a.getLong(dims(i)) != b.getLong(dims(i))) return false
      i += 1
    }
    true
  }

  /** Skyline of `df` maximizing the BIGINT columns `dimCols` (cast/negate
    * upstream to minimize or mix directions). All original columns pass
    * through. */
  def paretoFront(df: DataFrame, dimCols: Seq[String], maxSurvivors: Long = 2000000L): DataFrame = {
    require(dimCols.nonEmpty, "need at least one criterion")
    val schema = df.schema
    val dims = dimCols.map(schema.fieldIndex).toArray
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val local: Dataset[Row] = df.mapPartitions(it => localFront(it, dims))
      .localCheckpoint(true)
    // Survivor-set sanity gate BEFORE coalescing to one partition: a
    // pathological front must fail loudly, not OOM the phase-2 task.
    val n = local.count()
    require(n <= maxSurvivors,
      s"local skyline survivors ($n) exceed maxSurvivors ($maxSurvivors) — " +
        "anti-correlated criteria; scalarize or raise the cap")
    local.coalesce(1).mapPartitions(it => localFront(it, dims))
  }
}
