package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-substring cross-document deduplication (the Lee et al. 2022
  * "Deduplicating Training Data Makes Language Models Better" ExactSubstr
  * class): remove every duplicated token run of length >= L at ARBITRARY
  * offsets across (and within) documents, keeping the globally-first
  * occurrence by corpus order (doc id, position). This is the granularity
  * the L32 span dedup can't reach — L32 dedups a FIXED segmentation
  * (lines / n-word windows), so a shared run straddling two segment
  * boundaries survives; here any shared run >= L is found regardless of
  * where it starts.
  *
  * Formulation (the standard suffix-array-free equivalent): a token is
  * removed iff it is covered by some positional L-gram whose (doc, pos)
  * occurrence is NOT the first occurrence of that gram in corpus order.
  * The union of non-first duplicated L-gram windows is exactly the set of
  * maximal duplicated runs of length >= L — a run of m >= L duplicated
  * tokens has all m-L+1 of its L-grams duplicated (covering all m
  * tokens), while an L-gram straddling a run boundary includes
  * non-duplicated context and so is not duplicated.
  *
  * Scale shape (the reason this beats a distributed suffix array at
  * 100 TB): the corpus is consumed as a narrow positional-gram stream
  * (doc_id, pos, 128-bit md5 of the gram) — ~40 bytes/token vs the
  * 8x corpus size of a suffix array. The stream comes from the native
  * `graft_shingles_all` expression (every positional L-gram in one
  * codegen'd call) posexploded and hashed by the codegen'd `md5` — no
  * per-gram interpreted lambda. It is still COMPUTED TWICE (once under
  * the firsts aggregation, once as the gram-join probe side — the two
  * subplans differ below their exchanges, so ReuseExchange cannot share
  * them): deliberate, because re-scanning the corpus and re-running one
  * native expression beats materializing a gram stream that is itself
  * several times the corpus size, and the aggregation pass ships only
  * post-combine partials. First-occurrence detection is a
  * map-side-combinable `min(struct(doc_id, pos)) / count` aggregation by
  * gram hash (NOT a window rank: partial aggregation absorbs hot grams
  * before the shuffle, where a rank window ships every occurrence of the
  * hottest gram to one task), followed by a hash join of the gram stream
  * back to the per-gram firsts (AQE skew-join splits a residual hot gram's
  * join partition). Anchor positions collapse per doc
  * (`collect_list(pos)` — bounded by the doc's own token count), and the
  * cover/cut/reassembly is entirely in-row. Four shuffles total, all on
  * narrow keys; the document text itself moves exactly once (the final
  * doc_id join).
  *
  * Hot-anchor cap (`maxOcc`, the NearDup.maxDocFreq precedent): a
  * degenerate gram occurring more than `maxOcc` times (a corpus-wide
  * filler run — "0 0 0 ...") is EXEMPT from removal rather than shipped:
  * its occurrence list is the one thing this plan still materializes per
  * gram-join row, and beyond `maxOcc` the right response is the dedicated
  * boilerplate operators (L32/L70), not this one. The exemption is part
  * of the operator's contract and mirrored by the q164 oracle.
  *
  * In-row cover test is O(tokens x anchors) per document via
  * `exists(anchors, ...)` — anchors are bounded by the doc's own length,
  * so the row-local worst case is O(n^2) on a fully-duplicated doc;
  * documents long enough for that to matter should be pre-chunked (L44).
  *
  * Reference scope: /root/reference has no corpus operators at all
  * (pandas mailing ETL); this is the L-family extension mandated by the
  * published LLM-curation pipelines.
  */
object ExactSubstr {

  /** Remove duplicated token runs >= `L` tokens, keep-first by
    * (doc_id, pos) corpus order.
    *
    * @param df     corpus
    * @param docId  document id (orders the corpus; must be unique)
    * @param text   single-space-tokenized text column
    * @param L      minimum duplicated run length in tokens (>= 2)
    * @param maxOcc grams occurring more than this many times corpus-wide
    *               are exempt from removal (hot-anchor cap)
    * @return (doc_id, text_dedup, n_kept, n_removed) — one row per input
    *         document; a fully-duplicated document keeps an empty string.
    */
  def dedup(df: DataFrame, docId: Column, text: Column,
            L: Int, maxOcc: Long = 1000L): DataFrame = {
    require(L >= 2, s"L must be >= 2, got $L")
    require(maxOcc >= 1, s"maxOcc must be >= 1, got $maxOcc")
    graft.plans.GraftExtensions.register(df.sparkSession)
    val base = df.select(docId.as("doc_id"), split(text, " ").as("w"))

    // (doc_id, pos, gh): every positional L-gram as a 128-bit digest —
    // the gram text never leaves the row. graft_shingles_all splits on a
    // single space exactly as `base` does (empty tokens are tokens) and
    // yields an empty array below L tokens, so positions index `w`.
    val grams = df
      .select(docId.as("doc_id"),
        posexplode(call_function("graft_shingles_all", text, lit(L))).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), md5(col("gram")).as("gh"))

    // First corpus occurrence + total occurrences per gram digest.
    // min(struct) == ORDER BY (doc_id, pos) rank-1: struct ordering is
    // lexicographic by field. Map-side combinable where a rank window
    // is not.
    val firsts = grams.groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("occ"))
      .filter(col("occ") > 1 && col("occ") <= maxOcc)

    // Non-first occurrences of duplicated (non-exempt) grams = anchors of
    // the windows to cut. Inner join: firsts was pre-filtered to
    // duplicated grams only, so unique grams (the vast majority) drop out
    // of the join's build side entirely.
    val anchors = grams.join(firsts, "gh")
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("anchors"))

    // In-row cover + cut + reassembly. filter()'s index lambda is
    // 0-based, matching the 0-based gram positions. The cover filter is
    // the one non-cheap in-row expression (O(tokens x anchors)), consumed
    // three times downstream — aliased in its OWN projection so
    // CollapseProject (which never inlines a non-cheap multi-referenced
    // alias) evaluates it once per row, not once per consumer.
    val anc = coalesce(col("anchors"), array())
    val kept = filter(col("w"),
      (tok, i) => !exists(anc, a => a <= i && i < a + L))
    base.join(anchors, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"), kept.as("kept"))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("text_dedup"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"))
  }
}
