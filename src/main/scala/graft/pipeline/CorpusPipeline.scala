package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{PiiScrub, Repetition, TextAnalysis}
import graft.operators.{Checkpoints, Decontaminate, Dedup, DupClusters, NearDup, Sampling}

/** End-to-end training-corpus preparation — the LLM-data sibling of
  * [[MailingPipeline]]: one declarative flow from raw documents to
  * leakage-safe train/valid/test splits, composed entirely from the
  * library's SURVEY §2b operators.
  *
  * Stages (each a `StageReport.track` observe point — counts ride the
  * final action, no per-stage passes):
  *
  *  1. filter: language allowlist (n-gram heuristic lang-id) + minimum
  *     quality score + repetition caps (Gopher-style dup-word/dup-bigram
  *     fractions) — narrow, over the RAW text (scan-attribute references
  *     are free; a lazy normalize column here would be inlined into every
  *     gate reference — see the stage-1 comment in [[prepare]]).
  *  2. normalize survivors: Unicode NFC (`graft_nfc`) + PII scrub
  *     (emails, long digit runs) — one narrow projection, evaluated once
  *     per surviving row in the stage's checkpoint pass.
  *  2b. decontamination (optional, when a benchmark frame is given): drop
  *     documents whose distinct-n-gram overlap with the benchmark exceeds
  *     the threshold — broadcast gram set, one scan, one keyed agg.
  *  3. exact dedup: md5-hash groupBy keeping the minimum id. This runs
  *     BEFORE near-dup so giant exact-dup clusters never reach the LSH
  *     stage (whose bucket cap would otherwise drop them — see SURVEY §5
  *     skew note).
  *  4. near-dup clustering: capped n-gram Jaccard pairs → connected
  *     components → each document keeps its cluster's canonical (minimum
  *     surviving) id.
  *  5. split: hash-split on the CLUSTER canon, so near-duplicates always
  *     co-assign (leakage-safe by construction).
  *
  * Scale shape: stages 1–2 are shuffle-free; stage 3 is one hash
  * aggregation; stage 4 is the bounded candidate-generation machinery
  * documented on [[NearDup.ngramJaccardPairs]]/[[DupClusters]]; stage 5 is
  * a narrow md5-bucket projection. Nothing all-pairs, nothing driver-side.
  */
object CorpusPipeline {

  /** Tuning knobs, reference-config style (every default matches the
    * q42/q44 verify family so behavior is oracle-anchored). */
  final case class Config(
      langs: Set[String] = Set("en"),
      minQualityQ: Long = 0L,
      shingleK: Int = 3,
      nearDupThreshold: Double = 0.5,
      maxGramDocFreq: Long = 50L,
      trainPct: Int = 80,
      validPct: Int = 10,
      // repetition caps, ⌊frac·10⁴⌋ (10000 = gate off): docs with a higher
      // duplicate-word / duplicate-bigram fraction are dropped in stage 2
      maxDupWordFracQ: Long = 10000L,
      maxDupBigramFracQ: Long = 10000L,
      // benchmark-overlap gate (stage 2b, only when `bench` is passed)
      decontamN: Int = 3,
      decontamThreshold: Double = 0.8)

  /** Returns (id, text, lang, score_q, ws_tokens, canon_id, split) for
    * every SURVIVING document; `report` (when given) observes per-stage
    * row counts on the returned frame's own action.
    *
    * @param bench optional held-out benchmark corpus (frame, text column):
    *   when given, stage 2b drops documents whose distinct `decontamN`-gram
    *   overlap with it reaches `decontamThreshold`. */
  def prepare(docs: DataFrame, idCol: Column, textCol: Column,
              cfg: Config = Config(),
              report: Option[StageReport] = None,
              bench: Option[(DataFrame, Column)] = None): DataFrame = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    def tracked(name: String, df: DataFrame): DataFrame =
      report.fold(df)(_.track(name, df))

    // 1. gate FIRST, on the RAW text; normalize survivors after. Two cost
    // facts force this order (round-15 profiling of the 32 s q165 whale):
    // (a) the gate references its text column ~18 times (trigram lang-id,
    // quality ratios, dup-fraction token arrays, incl. inside per-gram
    // transform lambdas), and when that column is a LAZY scrub expression
    // Catalyst inlines the scrub+NFC into every reference site — the gate
    // over a lazy-scrubbed column measured 25 s vs 0.8 s over a bound
    // relation, a ~30x re-evaluation blowup no 100 TB plan survives.
    // References to a SCAN attribute are free, so the gate reads raw text.
    // (b) filtering before normalizing does strictly less scrub work (only
    // survivors pay the NFC + PII regexes), and the scrub then evaluates
    // exactly once per row inside the stage-2 checkpoint pass below.
    // spreadForCpu: the gate stack is milliseconds of CPU per document,
    // so its parallelism must not be capped by the scan's split count — a
    // single-file documents table otherwise runs the whole corpus through
    // one task; identity whenever the scan already yields enough splits.
    // "ingested" observes the pipeline's INPUT row count (pre-gate) —
    // the round-15 reorder moved "normalized" below the gate, which
    // silently turned the old normalized−kept drop-rate reading into a
    // constant 0; the input count gets its own stage name instead.
    val ingested = tracked("ingested",
      Checkpoints.spreadForCpu(docs.select(idCol.cast("long").as("id"), textCol.as("text"))))
    val gated = tracked("lang_quality_kept", scoreAndGate(ingested, cfg))

    // 2. normalize + scrub the survivors (narrow), then the eager
    // checkpoint: the frame fans out below (dedup build side + survivor
    // side) and feeds the iterative near-dup machinery, both of which need
    // the lineage cut — it also fires the stage-1/2 observes exactly once.
    val kept = tracked("normalized", gated.withColumn(
        "text", PiiScrub.scrub(call_function("graft_nfc", col("text")))))
      .localCheckpoint(true)

    // 2b. optional benchmark decontamination. Checkpointed when present:
    // the semi-join references the frame twice, and a tracked frame must
    // materialize exactly once (duplicate CollectMetrics otherwise).
    val input = bench.fold(kept) { case (b, bText) =>
      tracked("decontaminated", Decontaminate.decontaminate(kept, col("id"), col("text"),
        b, bText, cfg.decontamN, cfg.decontamThreshold))
        .localCheckpoint(true)
    }

    // 3. exact dedup first: keep each content hash's minimum id
    val keepIds = Dedup.exactByHash(input, col("text"), col("id"))
      .select(col("keep_id").as("id"))
    val exactDeduped = tracked("exact_deduped", input.join(keepIds, Seq("id"), "left_semi"))
      .localCheckpoint(true)

    // 4. near-dup clusters over the exact-deduped survivors; canon = the
    // cluster's minimum id (docs with no near-dup are their own canon)
    val pairs = NearDup.ngramJaccardPairs(exactDeduped, col("id"), col("text"),
      cfg.shingleK, cfg.nearDupThreshold, cfg.maxGramDocFreq)
    val clusters = DupClusters.connectedComponents(pairs)
    val withCanon = exactDeduped.join(clusters, exactDeduped("id") === clusters("id"), "left")
      .select(exactDeduped("id"), col("text"), col("lang"), col("score_q"), col("ws_tokens"),
        coalesce(col("cluster_id"), exactDeduped("id")).as("canon_id"))

    // 5. leakage-safe split on the cluster canon; this observe rides the
    // caller's own action
    val split = Sampling.withSplit(withCanon, col("canon_id"), cfg.trainPct, cfg.validPct)
    tracked("split_total", split)
  }

  /** Stage-2 gate as a standalone transform — language allowlist, minimum
    * quality, repetition caps — appending (lang, score_q, ws_tokens) and
    * preserving every other input column. Pure narrow column arithmetic, so
    * it applies unchanged to a STREAMING frame ([[graft.streaming
    * .StreamCorpus]] is exactly this plus watermarked dedup). Tokens bind
    * to a column before the bigram transform (see Repetition.wordNgrams). */
  def scoreAndGate(df: DataFrame, cfg: Config): DataFrame = {
    val scored = df
      .withColumn("__toks", Repetition.wordTokens(col("text")))
      .withColumn("lang", TextAnalysis.langId(col("text")))
      .withColumn("score_q", TextAnalysis.qualityScoreQ(col("text")))
      .withColumn("ws_tokens", TextAnalysis.wsTokenCount(col("text")))
      .withColumn("__dup_w_q", Repetition.dupFracQ(col("__toks")))
      .withColumn("__dup_b_q", Repetition.dupFracQ(Repetition.wordNgrams(col("__toks"), 2)))
    scored.filter(
        col("lang").isin(cfg.langs.toSeq: _*) && col("score_q") >= cfg.minQualityQ &&
          col("__dup_w_q") <= cfg.maxDupWordFracQ && col("__dup_b_q") <= cfg.maxDupBigramFracQ)
      .drop("__toks", "__dup_w_q", "__dup_b_q")
  }
}
