package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
  * algorithm): hash every positional word-k-gram, slide a window of `w`
  * consecutive hashes, select each window's minimum — the selected set is
  * the document's fingerprint. The guarantee that makes it the standard
  * over naive "keep every j-th hash": any shared run of at least w+k−1
  * tokens between two documents shares at least one selected fingerprint
  * (detection is position-independent), while storage shrinks ~2/(w+1).
  * Fingerprint-equality join over the output is the near-dup candidate
  * generator for plagiarism/boilerplate detection.
  *
  * Engine-portable: hashes are the first 16 hex chars of md5 (string
  * min/compare is plain ASCII ordering in any engine), POSITIONAL grams
  * (not the distinct-gram shingle used by the Jaccard family — winnowing
  * needs every occurrence), window min per starting position, distinct
  * (doc, hash) at the end.
  *
  * Scale shape: selection runs entirely inside the native `graft_winnow`
  * expression ([[graft.plans.WinnowFps]]) — a narrow codegen'd map, NO
  * shuffle. The composed form (posexplode every positional gram hash +
  * partitionBy(doc)/orderBy(pos) window min) shuffled an intermediate
  * several times the corpus size; now only the selected fingerprints
  * (~2/(w+1) of the gram hashes, deduped in-row) leave the document, and
  * the one remaining exchange is the cross-row distinct on that small
  * set.
  */
object Winnowing {

  /** (doc_id, fp) — the distinct selected fingerprints per document.
    * Documents with fewer than k+w−1 tokens emit nothing (no full
    * window). */
  def fingerprints(df: DataFrame, idCol: Column, textCol: Column,
                   k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    graft.plans.GraftExtensions.register(df.sparkSession)
    df.select(idCol.as("doc_id"),
        explode(call_function("graft_winnow", textCol, lit(k), lit(w))).as("fp"))
      .distinct()
  }
}
