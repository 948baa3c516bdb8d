package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines: token
  * counting, language ID, quality scoring, fingerprinting.
  *
  * Everything is built from codegen'd built-ins (length/replace/regexp/md5)
  * so the whole family runs inside whole-stage codegen over a single scan —
  * at 100 TB these are pure map-side projections with zero shuffle.
  */
object TextAnalysis {

  /** Whitespace token count; empty/blank → 0. */
  def wsTokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0L))
      .otherwise(size(split(trim(c), "\\s+")).cast("long"))

  /** BPE-ish token count: letter runs, single digits, or single
    * non-alphanumeric marks (a crude stand-in for byte-pair pretokenization). */
  val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
  def bpeTokenCount(c: Column): Column = regexp_count(c, lit(BpePattern)).cast("long")

  /** Occurrences of a literal substring, via length deltas (replace-based so
    * the identical expression exists in any SQL dialect). */
  def countOccurrences(c: Column, token: String): Column =
    ((length(c) - length(call_function("replace", c, lit(token), lit("")))) / lit(token.length)).cast("long")

  /** Stopword hits for a language: occurrences of each ' word ' in the
    * space-padded lower-cased text. */
  def stopwordHits(c: Column, stopwords: Seq[String]): Column = {
    val padded = concat(lit(" "), lower(c), lit(" "))
    stopwords.map(w => countOccurrences(padded, s" $w ")).reduce(_ + _)
  }

  val EnStop = Seq("the", "and", "of", "to", "a")
  val PtStop = Seq("de", "que", "e", "o", "da")
  val EsStop = Seq("de", "que", "y", "la", "el")

  /** Heuristic language ID: stopword-hit argmax with a fixed deterministic
    * tie-break order (en > pt > es). */
  def langId(c: Column): Column = {
    val (en, pt, es) = (stopwordHits(c, EnStop), stopwordHits(c, PtStop), stopwordHits(c, EsStop))
    when(en >= pt && en >= es, lit("en")).when(pt >= es, lit("pt")).otherwise(lit("es"))
  }

  /** Document quality score in [0,1]: blend of length saturation, stopword
    * density, punctuation restraint, and upper-case restraint. All-arithmetic
    * so oracles can reproduce it exactly; [[qualityScoreQ]] quantizes it. */
  private def qualityScoreRaw(c: Column): Column = {
    val len = length(c).cast("double")
    val tokens = wsTokenCount(c).cast("double")
    val stop = stopwordHits(c, EnStop).cast("double")
    val punct = regexp_count(c, lit("[.,!?;:]")).cast("double")
    val upper = regexp_count(c, lit("[A-Z]")).cast("double")
    val lenScore = least(len / lit(500.0), lit(1.0))
    val stopScore = least(stop / greatest(tokens, lit(1.0)) * lit(5.0), lit(1.0))
    val punctPenalty = least(punct / greatest(len, lit(1.0)) * lit(10.0), lit(1.0))
    val upperPenalty = least(upper / greatest(len, lit(1.0)) * lit(5.0), lit(1.0))
    lit(0.4) * lenScore + lit(0.3) * stopScore +
      lit(0.15) * (lit(1.0) - punctPenalty) + lit(0.15) * (lit(1.0) - upperPenalty)
  }

  /** Quantized score (score × 10000, floored). `floor` on the identical
    * double is engine-portable; decimal `round` is not — Spark rounds the
    * shortest decimal repr (HALF_UP) while most engines round the exact
    * binary value, so boundary values like 0.54175 diverge. */
  def qualityScoreQ(c: Column): Column = floor(qualityScoreRaw(c) * lit(10000.0)).cast("long")

  /** Normalized-content fingerprint: lower-case, collapse whitespace, md5. */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  /** DEFLATE-compressed size of the text/binary payload (native
    * [[graft.plans.DeflateLen]] expression — requires
    * `GraftExtensions.register`). */
  def deflateLen(c: Column): Column = call_function("graft_deflate_len", c)

  /** Compressibility in basis points: ⌊10⁴ · deflated/raw⌋ over UTF-8
    * byte counts. LOW = heavily compressible = repetitive boilerplate
    * (the standard drop rule is a low-side threshold); diverse prose
    * lands high. NULL for empty payloads (no bytes, no signal) — callers
    * filter or coalesce. Complements the exact-repeat fractions in
    * [[Repetition]]: DEFLATE also sees approximate/structural
    * redundancy. */
  def compressRatioQ(c: Column): Column =
    when(octet_length(c) > 0,
      floor(deflateLen(c) * lit(10000.0) / octet_length(c)).cast("long"))
}
