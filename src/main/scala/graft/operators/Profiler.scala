package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Column profiling, the reference's `diagnostico.py`/`laudo.py`: per-column
  * null counts + distinct counts + min/max, computed in a single aggregation
  * pass over the table (one job, no per-column scans).
  *
  * `profile` returns one row per column (long format) so callers can look at
  * wide tables without 4×N output columns. Exact distinct counts shuffle once
  * per Expand; `approxProfile` swaps in HyperLogLog sketches — single pass,
  * no Expand, the right default at 100 TB. */
object Profiler {

  final case class ColumnProfile(column: String, n_rows: Long, n_nulls: Long,
                                 n_distinct: Long, min_repr: String, max_repr: String)

  private def gather(df: DataFrame, cols: Seq[String], distinctOf: String => org.apache.spark.sql.Column): Seq[ColumnProfile] = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"__n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        distinctOf(c).as(s"__dist_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val row: Row = df.agg(aggs.head, aggs.tail: _*).collect().head
    cols.map { c =>
      ColumnProfile(c,
        row.getAs[Long](s"__n_$c"), row.getAs[Long](s"__nulls_$c"),
        row.getAs[Long](s"__dist_$c"),
        Option(row.getAs[String](s"__min_$c")).getOrElse(""),
        Option(row.getAs[String](s"__max_$c")).getOrElse(""))
    }
  }

  /** Exact profile of the named columns (defaults to all). */
  def profile(df: DataFrame, cols: Seq[String] = Nil): Seq[ColumnProfile] =
    gather(df, if (cols.nonEmpty) cols else df.columns.toSeq, c => count_distinct(col(c)))

  /** HLL-based profile — single pass, no Expand; ~2% distinct-count error. */
  def approxProfile(df: DataFrame, cols: Seq[String] = Nil): Seq[ColumnProfile] =
    gather(df, if (cols.nonEmpty) cols else df.columns.toSeq, c => approx_count_distinct(col(c)))

  /** Category-concentration profile: per column, the Gini impurity of its
    * value distribution in basis points — `⌊(N² − Σn²)·10⁴ / N²⌋`, 0 =
    * one value dominates completely, →10⁴ = spread over many values. The
    * skew early-warning for partition/join keys: a key column whose
    * impurity collapses is about to produce a hot partition.
    *
    * Entirely INTEGER arithmetic (counts, squares, one integer division) —
    * no transcendentals, no float accumulation — so the result is
    * bit-identical on any engine (the entropy formulation would not be:
    * `ln` rounding differs across libms; Gini is the portable impurity).
    * The N²·10⁴ intermediate is widened to DECIMAL(38,0) — in Long it wraps
    * silently past ~3·10⁷ non-null rows (ANSI off), exactly the scale this
    * profile targets; DECIMAL(38,0) carries N up to ~10¹⁷ rows and matches
    * the HUGEINT widening an engine like DuckDB applies to the same SQL.
    *
    * Plan: ONE `unpivot` pass over the table (the Audit trick — narrow row
    * expansion, no per-column jobs), a (column, value) count aggregation,
    * then a tiny per-column reduce. Nulls are excluded per column. */
  def categoryConcentration(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val counts = df
      .select(cols.map(c => col(c).cast("string").as(c)): _*)
      .unpivot(Array.empty, cols.map(col).toArray, "column", "val")
      .filter(col("val").isNotNull)
      .groupBy("column", "val")
      .agg(count(lit(1)).as("n"))
    counts.groupBy("column")
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_distinct"),
        sum(col("n") * col("n")).as("__ssq"))
      .select(col("column"), col("n_rows"), col("n_distinct"),
        expr("""CAST(
                  (CAST(n_rows AS DECIMAL(19,0)) * CAST(n_rows AS DECIMAL(19,0))
                    - CAST(__ssq AS DECIMAL(38,0))) * 10000
                  DIV (CAST(n_rows AS DECIMAL(19,0)) * CAST(n_rows AS DECIMAL(19,0)))
                AS BIGINT)""").as("gini_bp"))
  }

  /** Functional-dependency profiling (R63): does `lhs → rhs` hold — is
    * each lhs value paired with at most one (non-null) rhs value? The
    * key/dependency-discovery check a schema reviewer runs before
    * trusting a join key or an SCD compare column (deequ's
    * "uniqueness/consistency" family). Null rhs values witness nothing
    * (SQL `count(distinct)` semantics); a null LHS is a value like any
    * other.
    *
    * Shape per dependency: two-level aggregation — (lhs, rhs) distinct
    * counts with map-side combine, then an lhs-keyed rollup — never a
    * `count(distinct)` expand over raw rows; output is one row per
    * checked dependency. */
  def fdProfile(df: DataFrame, deps: Seq[(String, String)]): DataFrame = {
    require(deps.nonEmpty, "deps must be non-empty")
    deps.map { case (lhs, rhs) =>
      df.where(col(rhs).isNotNull)
        .groupBy(col(lhs).as("__l"), col(rhs).as("__r")).agg(count(lit(1)).as("__c"))
        .groupBy("__l").agg(count(lit(1)).as("__nr"))
        .agg(count(lit(1)).as("n_keys"),
          coalesce(sum(when(col("__nr") > 1, 1L).otherwise(0L)), lit(0L)).as("n_violating"))
        .select(lit(lhs).as("lhs_col"), lit(rhs).as("rhs_col"),
          col("n_keys"), col("n_violating"),
          (col("n_violating") === 0).as("fd_holds"))
    }.reduce(_ unionByName _)
  }

  /** Order-independent content fingerprint `(n_rows, fp_sum, fp_xor)` —
    * the cross-cluster/cross-engine equality check for migrations,
    * replication and backfills: two tables with equal fingerprints over
    * the same columns hold the same multiset of rows, computed WITHOUT
    * moving either table (one aggregation, no sort, no join; commutative
    * reductions, so partitioning and row order are irrelevant).
    *
    * Per-row hash: 32 bits from md5 over the `\u0001`-joined,
    * null-sentineled string casts (the portable md5-digit idiom of
    * [[Sampling.hashBucket]]). Two independent reductions guard each
    * other's blind spots: `fp_sum` (modular sum — DECIMAL(38,0)
    * accumulator so ~10²⁹ rows cannot wrap it, then mod the largest
    * 63-bit prime; an even number of identical rows CAN'T cancel) and
    * `fp_xor` (bitwise — catches value permutations sum is blind to).
    * Cast floating-point columns to a fixed decimal scale first: raw
    * float→string rendering is not engine-portable. */
  def tableFingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val canon = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val digits = (1 to 8).map(i =>
      (instr(lit("0123456789abcdef"), substring(col("__hex"), i, 1)) - 1).cast("long"))
    val rowH = digits.reduce((acc, d) => acc * 16L + d)
    df.select(md5(canon).as("__hex"))
      .select(rowH.as("__h"))
      .agg(count(lit(1)).as("n_rows"),
        expr("CAST(CAST(sum(CAST(__h AS DECIMAL(38,0))) AS DECIMAL(38,0)) % 9223372036854775783 AS BIGINT)")
          .as("fp_sum"),
        expr("bit_xor(__h)").as("fp_xor"))
  }
}
