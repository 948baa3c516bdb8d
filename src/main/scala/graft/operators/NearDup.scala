package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.metrics.MetricsListener

/** Near-duplicate detection family: word-shingles, n-gram Jaccard,
  * MinHash+LSH banding, SimHash.
  *
  * Scale design: pairwise comparison is never global — candidate pairs come
  * from equality joins on shingles (Jaccard) or band buckets (LSH), so the
  * shuffle key space is the shingle/bucket domain and AQE's skew-join
  * handling splits hot buckets. Hashes are md5-based so any SQL engine can
  * reproduce them bit-for-bit (no engine-private hash functions).
  */
object NearDup {

  /** Explode distinct word-k-grams: (id, gram). Shingling runs in the native
    * `graft_shingles` expression (`plans.WordShingles`) — the composed
    * split/sequence/transform/array_distinct chain evaluated its lambda per
    * element outside whole-stage codegen and was ~10× slower. */
  def wordShingles(df: DataFrame, idCol: Column, textCol: Column, k: Int): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    // Deliberately NOT spreadForCpu'd (round-15 measurement): the
    // explode's consumers are aggregations/windows/self-joins whose
    // exchanges dominate, and on a few-split input a single-partition
    // gram stream satisfies their distributions WITHOUT an exchange —
    // spreading here added a 9 MB exchange and 2.2x'd q100 while the
    // shingle CPU itself is a sub-second slice. The signature builders
    // ([[minHashSignatures]], [[weightedMinHashSignatures]]) and the
    // weighted tf frame are the per-doc-CPU-dominated shapes that DO
    // spread (q143/q146/q149/q150 read 0.4-0.6x their pins after).
    df.select(idCol.as("id"),
      explode(call_function("graft_shingles", textCol, lit(k))).as("gram"))
  }

  /** Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ threshold).
    * |A∩B| via equality join on shingles, |A∪B| = |A|+|B|−|A∩B|.
    *
    * @param maxDocFreq when > 0, grams present in more than this many
    *   documents are dropped BEFORE the self-join (the standard stop-gram
    *   cap): a gram in f docs contributes f² join rows, so without the cap
    *   the head of the gram distribution dominates the whole job at corpus
    *   scale — AQE can split the hot partitions but not reduce the O(f²)
    *   work. Set sizes (|A|, |B|) still count ALL grams, so capped Jaccard
    *   is a lower bound of exact Jaccard: the cap only loses pairs whose
    *   overlap above threshold depends on corpus-ubiquitous grams. 0 = off
    *   (the exact baseline). */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                        k: Int, threshold: Double, maxDocFreq: Long = 0L): DataFrame =
    ngramInterCounts(df, idCol, textCol, k, maxDocFreq)
      .withColumn("jaccard", round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Asymmetric n-gram CONTAINMENT pairs (Broder): C(A→B) = |A∩B| / |A|.
    * Jaccard misses a small document quoted inside a much larger one (the
    * union is dominated by the big doc), but containment of the smaller
    * side is ~1 — this is the dedup rule for quotes, boilerplate inclusions
    * and page-in-page duplication. Emits the pair, which side is the
    * contained (smaller-set) document, and `containment` = n_inter /
    * min(|A|,|B|) ≥ threshold. Same candidate machinery as
    * [[ngramJaccardPairs]] — equality-join/fused-list pair generation,
    * never all-pairs — so the same `maxDocFreq` stop-gram cap applies. */
  def ngramContainmentPairs(df: DataFrame, idCol: Column, textCol: Column,
                            k: Int, threshold: Double, maxDocFreq: Long = 0L): DataFrame =
    ngramInterCounts(df, idCol, textCol, k, maxDocFreq)
      .withColumn("containment", round(col("n_inter") / least(col("na"), col("nb")), 4))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        when(col("na") <= col("nb"), col("id_a")).otherwise(col("id_b")).as("contained_id"),
        col("containment"))

  /** Shared pair-intersection engine for the exact n-gram family:
    * (id_a < id_b, na, nb, n_inter) with the capped/uncapped candidate
    * strategies documented inline. */
  private def ngramInterCounts(df: DataFrame, idCol: Column, textCol: Column,
                               k: Int, maxDocFreq: Long): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    // Deliberately NOT cached: the shingle explosion is larger than the
    // input corpus, so pinning it in memory is a scale bug at 100 TB.
    // Shingling is narrow (one native-expression call + explode over the
    // scan) — recompute is the right trade. The per-doc gram count rides
    // along on every shingle row (8 bytes in the shuffle) so |A| and |B|
    // fall out of the intersection groupBy keys — no separate sizes
    // aggregation and no post-agg joins (which also re-planned differently
    // run to run).
    val shAll = df.select(idCol.as("id"),
        call_function("graft_shingles", textCol, lit(k)).as("g"))
      // null ids (bad ingest, left-join residue) are dropped explicitly:
      // the self-join path would discard them via the a.id < b.id
      // predicate, the fused capped path would not — keep both identical
      .where(col("id").isNotNull)
      .select(col("id"), size(col("g")).cast("long").as("n"), explode(col("g")).as("gram"))
    // The hot-gram set is tiny by definition (bounded by corpus_size /
    // maxDocFreq), so materialize it ONCE with an eager checkpoint — it
    // feeds BOTH sides of the self-join, and left lazy each side would pay
    // its own full shingle aggregation to recompute it. The anti-join
    // against the materialized set is map-side after AQE broadcasts it.
    val interPairs =
      if (maxDocFreq <= 0L) {
        // Exact baseline: per-gram doc lists are unbounded, so pairs come
        // from an equality self-join (a degenerate gram must be allowed to
        // span many tasks; a collected list of it would not fit one row).
        shAll.as("a").join(shAll.as("b"),
            col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.n").as("na"), col("b.n").as("nb"))
          .agg(count(lit(1)).as("n_inter"))
      } else {
        // Capped path: maxDocFreq bounds every surviving gram's doc list,
        // so pair generation FUSES into one aggregation — collect the
        // (bounded) sorted doc list per gram and explode its C(f,2)
        // combinations. One shuffle of the shingles total, where the
        // census + anti-join + self-join shape paid three; the hot-gram
        // census still runs first (map-side-combined counts — tiny
        // shuffle) so degenerate grams are dropped BEFORE any list is
        // collected.
        val hot = MetricsListener.withJobScope(df.sparkSession.sparkContext, "NearDup.ngram") {
          shAll.groupBy("gram").agg(count(lit(1)).as("__df"))
            .filter(col("__df") > maxDocFreq).select(col("gram").as("__hot_gram"))
            .localCheckpoint(true)
        }
        shAll.join(hot, col("gram") === col("__hot_gram"), "left_anti")
          .groupBy("gram")
          .agg(sort_array(collect_list(struct(col("id"), col("n")))).as("ds"))
          .filter(size(col("ds")) > 1)
          .select(explode(expr(
            """flatten(transform(sequence(0, size(ds) - 2), i ->
              |  transform(sequence(i + 1, size(ds) - 1), j ->
              |    named_struct('id_a', ds[i].id, 'na', ds[i].n,
              |                 'id_b', ds[j].id, 'nb', ds[j].n))))""".stripMargin)).as("p"))
          .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
            col("p.na").as("na"), col("p.nb").as("nb"))
          .agg(count(lit(1)).as("n_inter"))
      }
    interPairs
  }

  /** MinHash signatures, wide form: `id, mh_0..mh_{n-1}, n_grams` — computed
    * by the native `graft_minhash` expression (`plans.MinHashSig`) as a
    * NARROW map over the documents table. No shingle explode, no groupBy(id)
    * shuffle: at 100 TB the exploded shingle set is bigger than the corpus,
    * so keeping it out of the signature path entirely beats even a
    * map-side-combined aggregation of it. `n_grams` rides along so Jaccard
    * verification can read set sizes off the candidate pairs instead of
    * joining a separate sizes table. */
  def minHashSignatures(df: DataFrame, idCol: Column, textCol: Column,
                        k: Int, numHashes: Int): DataFrame =
    sigProjection(Checkpoints.spreadForCpu(df), idCol, textCol, k, numHashes)

  /** The signature projection alone, with NO spread/checkpoint of the
    * input — lets [[IncrementalDedup.emptyStore]] stay a pure (provably
    * empty) LocalRelation instead of paying a repartition+checkpoint job
    * to materialize zero rows. */
  private[operators] def sigProjection(df: DataFrame, idCol: Column, textCol: Column,
                                       k: Int, numHashes: Int): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    df.select(idCol.as("id"),
        call_function("graft_minhash", textCol, lit(k), lit(numHashes)).as("s"))
      .where(col("s").isNotNull)
      .select(col("id") +:
        (0 until numHashes).map(i => col("s.mh")(i).as(s"mh_$i")) :+
        col("s.n_grams").cast("long").as("n_grams"): _*)
  }

  /** (id, n_grams, band, bucket) band-key rows for a [[minHashSignatures]]
    * table — the LSH bucketing shared by the self-join candidate path and
    * [[IncrementalDedup]]'s new-vs-store probe. */
  private[operators] def bandedKeys(signatures: DataFrame, rowsPerBand: Int): DataFrame = {
    val numHashes = signatures.columns.count(_.startsWith("mh_"))
    val bands = numHashes / rowsPerBand
    val bandStructs = (0 until bands).map { j =>
      val key = md5(concat_ws("|",
        (0 until rowsPerBand).map { r =>
          val i = j * rowsPerBand + r
          concat(lit(f"$i%02d="), col(s"mh_$i"))
        }: _*))
      struct(lit(j).as("band"), key.as("bucket"))
    }
    signatures
      .select(col("id"), col("n_grams"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("n_grams"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** `banded` without the buckets (keyed by `keys`) holding more than
    * `maxBucketSize` rows; `Long.MaxValue` adds no plan step. The census
    * aggregates on the key the bucket self-join shuffles on, so that
    * partitioning is computed once and reused. */
  private[operators] def capBuckets(banded: DataFrame, keys: Seq[String],
                                    maxBucketSize: Long): DataFrame =
    if (maxBucketSize == Long.MaxValue) banded
    else banded.join(banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize).drop("__bsz"), keys)

  /** LSH candidate pairs: band the wide signature (rowsPerBand hashes per
    * band; bucket key "00=<mh0>|01=<mh1>"), self-join on (band, bucket),
    * emit distinct candidate id pairs carrying both shingle-set sizes
    * (`na`/`nb`, functionally determined by the ids — free to dedup).
    *
    * @param maxBucketSize drop buckets holding more members than this
    *   before pair generation. A degenerate bucket of f near-identical
    *   docs emits O(f²) candidate pairs, and no salting or AQE split can
    *   shrink that — the pairs are real; only dropping the bucket bounds
    *   the blowup. Same explicit recall trade as the n-gram stop-gram cap
    *   (`maxDocFreq`): members of a dropped bucket can still pair in their
    *   other bands. Default ∞ adds NO extra plan steps; at 100 TB set it
    *   to a few thousand (exact-dup clusters that big belong to L1 exact
    *   dedup, which should run first anyway). */
  def lshCandidates(signatures: DataFrame, rowsPerBand: Int,
                    maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val banded =
      capBuckets(bandedKeys(signatures, rowsPerBand), Seq("band", "bucket"), maxBucketSize)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_grams").as("na"), col("b.n_grams").as("nb"))
      .distinct()
  }

  /** Shared LSH orchestration for the banded-signature pair family:
    * persist the SIGNATURES (not shingles — the banded self-join reads
    * its subtree twice, and signatures are the compact derived projection
    * a production pipeline would materialize as a table, unlike the
    * shingle explosion, which outgrows the corpus and stays uncached),
    * gate the candidate broadcast hint on the MEASURED count
    * ([[candidateGate]]), narrow per-side verification inputs to
    * candidate docs via left-semi joins, then localCheckpoint the (tiny)
    * verified pairs so both persists release deterministically instead
    * of leaking until session end. `verify(cand, narrowed)` builds the
    * verification frame from the hinted candidate pairs and the
    * suspects-only corpus subset. */
  private def lshVerifyHarness(df: DataFrame, idCol: Column, sigs0: DataFrame,
                               rowsPerBand: Int, maxBucketSize: Long)(
      verify: (DataFrame, String => DataFrame) => DataFrame): DataFrame =
    MetricsListener.withJobScope(df.sparkSession.sparkContext, "NearDup.lsh") {
    val sigs = sigs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candPersisted = lshCandidates(sigs, rowsPerBand, maxBucketSize).persist()
    val hinted = candidateGate(candPersisted)
    val cand = hinted(candPersisted)
    def narrowed(pairIdCol: String): DataFrame = {
      val ids = hinted(candPersisted.select(col(pairIdCol).as("__cid")).distinct())
      // Checkpoint + spread: the semi-join output is candidate-bounded
      // (the suspects-only subset this harness already persists the
      // inputs of), and the verify side builds CPU-dense per-doc frames
      // (shingle explode / tf grams) from it — AQE's byte-based
      // coalescing would hand a small-byte subset to ONE task (q149's
      // 3 s verify whale, round 15). The checkpoint makes the frame a
      // leaf, so spreadForCpu's partition probe is planning-only here
      // (probing the bare join would EXECUTE it under AQE).
      Checkpoints.spreadForCpu(
        df.join(ids, idCol === col("__cid"), "left_semi").localCheckpoint(true))
    }
    val out = verify(cand, narrowed).localCheckpoint(true)
    candPersisted.unpersist(false)
    sigs.unpersist(false)
    out
  }

  /** [[Checkpoints.broadcastWithin]] at [[Checkpoints.CandidateBroadcastRowLimit]]
    * on a materialized candidate-pair set's row count (one cheap job over
    * the persisted pairs), for that set and the frames derived from it.
    * Banding usually keeps candidates tiny, but a duplicate-heavy corpus
    * can put O(n²) pairs in one hot bucket, and an unconditional
    * broadcast of that would OOM the driver. */
  private def candidateGate(candPersisted: DataFrame): DataFrame => DataFrame = {
    val rows = candPersisted.count()
    Checkpoints.broadcastWithin(_, rows, Checkpoints.CandidateBroadcastRowLimit)
  }

  /** Full MinHash-LSH near-dup: candidates from banding, verified with exact
    * shingle Jaccard ≥ threshold. The candidate broadcast is gated on the
    * candidates' measured count ([[candidateGate]]). */
  def minHashLshPairs(df: DataFrame, idCol: Column, textCol: Column,
                      k: Int, numHashes: Int, rowsPerBand: Int, threshold: Double,
                      maxBucketSize: Long = Long.MaxValue): DataFrame =
    lshVerifyHarness(df, idCol, minHashSignatures(df, idCol, textCol, k, numHashes),
      rowsPerBand, maxBucketSize) { (cand, narrowed) =>
      // Explode shingles ONLY for docs that appear in a candidate pair; na/nb
      // ride along on the candidates (from the signature projection), so
      // verification is intersect-count + arithmetic — no sizes aggregation.
      def candSide(pairIdCol: String): DataFrame =
        wordShingles(narrowed(pairIdCol), idCol, textCol, k)
      candSide("id_a").toDF("id_a", "gram")
        .join(cand, Seq("id_a"))
        .join(candSide("id_b").toDF("id_b", "gram"), Seq("id_b", "gram"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(count(lit(1)).as("n_inter"))
        .withColumn("jaccard", round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 4))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }

  /** Winnowing-based candidate pairs: documents sharing at least one
    * selected fingerprint ([[Winnowing.fingerprints]], the MOSS selection).
    * The cheaper candidate generator for duplicate CLUSTERING than the
    * every-shared-gram equality join: winnowing keeps ~2/(w+1) of the gram
    * hashes, so the self-join key space (and the C(f,2) blowup per shared
    * key) shrinks by the same factor, while the MOSS guarantee keeps
    * recall structural — any shared token run of length ≥ w+k−1 still
    * shares a selected fingerprint.
    *
    * @param maxFpFreq drop fingerprints selected by more than this many
    *   documents before the self-join (the stop-gram cap transplanted to
    *   fingerprint space: a boilerplate fingerprint in f docs costs f²
    *   candidate rows; members of a dropped fingerprint can still pair via
    *   their other fingerprints). 0 = off.
    * @param minSharedFps emit a pair only when the documents share at
    *   least this many selected fingerprints. 1 keeps the raw MOSS
    *   guarantee; 2+ is the precision cut MOSS itself ranks by — a pair
    *   that is a genuine near-dup at meaningful Jaccard shares many
    *   selected windows, while a single shared fingerprint is usually one
    *   boilerplate run. Cuts the verification fan-in by orders of
    *   magnitude at a recall cost only for pairs whose entire overlap is
    *   one run. */
  def winnowCandidatePairs(df: DataFrame, idCol: Column, textCol: Column,
                           k: Int, w: Int, maxFpFreq: Long = 0L,
                           minSharedFps: Int = 1): DataFrame = {
    // the fingerprint set is tiny by construction (~2/(w+1) of the gram
    // hashes, deduped): materialize it ONCE — it feeds the hot-fp census
    // and BOTH self-join sides, and left lazy each consumer would re-run
    // the posexplode + window-min selection over the whole corpus
    val fps = Winnowing.fingerprints(df, idCol, textCol, k, w).localCheckpoint(true)
    val kept =
      if (maxFpFreq <= 0L) fps
      else {
        val hot = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxFpFreq).select(col("fp").as("__hot_fp"))
        // the census reads the materialized fps, so the anti-join plans as
        // one broadcast filter over it — no second winnowing pass
        fps.join(hot, col("fp") === col("__hot_fp"), "left_anti")
      }
    val joined = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    if (minSharedFps <= 1) joined.distinct()
    else joined.groupBy("id_a", "id_b").agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minSharedFps)
      .select("id_a", "id_b")
  }

  /** Winnowing candidates verified with exact k-gram Jaccard ≥ threshold —
    * the [[winnowCandidatePairs]] generator feeding the same verification
    * the MinHash-LSH path uses: shingle ONLY the candidate documents
    * (semi-join on the un-exploded corpus), intersect-count, arithmetic.
    * Emits (id_a, id_b, jaccard), the [[DupClusters]] edge shape. */
  def winnowJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                         k: Int, w: Int, threshold: Double,
                         maxFpFreq: Long = 0L, minSharedFps: Int = 1): DataFrame =
    MetricsListener.withJobScope(df.sparkSession.sparkContext, "NearDup.winnow") {
    graft.plans.GraftExtensions.register(df.sparkSession)
    val candPersisted = winnowCandidatePairs(df, idCol, textCol, k, w, maxFpFreq, minSharedFps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = verifyJaccardCandidates(df, idCol, textCol, k, threshold, candPersisted)
      .localCheckpoint(true)
    candPersisted.unpersist(false)
    out
  }

  /** Verify (id_a, id_b) candidate pairs with exact k-gram Jaccard ≥
    * threshold: shingle ONLY the candidate documents (semi-join on the
    * un-exploded corpus), intersect-count, arithmetic. `candPersisted`
    * must be materialized by the caller (it is consumed three times).
    * Emits (id_a, id_b, jaccard), the [[DupClusters]] edge shape. */
  private def verifyJaccardCandidates(df: DataFrame, idCol: Column, textCol: Column,
                                      k: Int, threshold: Double,
                                      candPersisted: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    val hinted = candidateGate(candPersisted)
    val cand = hinted(candPersisted)
    // Shingle only docs appearing in a candidate pair; the per-doc gram
    // count rides along so |A|/|B| need no separate sizes aggregation.
    def candSide(pairIdCol: String): DataFrame = {
      val ids = hinted(candPersisted.select(col(pairIdCol).as("__cid")).distinct())
      df.join(ids, idCol === col("__cid"), "left_semi")
        .select(idCol.as("id"), call_function("graft_shingles", textCol, lit(k)).as("g"))
        .where(col("id").isNotNull)
        .select(col("id"), size(col("g")).cast("long").as("n"), explode(col("g")).as("gram"))
    }
    candSide("id_a").toDF("id_a", "na", "gram")
      .join(cand, Seq("id_a"))
      .join(candSide("id_b").toDF("id_b", "nb", "gram"), Seq("id_b", "gram"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard", round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT set-similarity join by prefix filtering (Bayardo/Chaudhuri
    * All-Pairs, WWW'07 — the candidate core of PPJoin): order each doc's
    * distinct k-grams by GLOBAL document frequency ascending (rarest
    * first, gram-lexicographic tiebreak) and emit only the first
    * `|x| − ⌈t·|x|⌉ + 1` grams as join keys. Theorem: J(A,B) ≥ t forces
    * the two prefixes to share a gram, so candidates have PERFECT recall —
    * unlike the `maxDocFreq` cap this loses nothing — while the join key
    * space shrinks to the rare end of the gram distribution (the hot
    * boilerplate grams sit at the end of the order and never become keys).
    * The length filter `t·max(|A|,|B|) ≤ min(|A|,|B|)` prunes in-join.
    * Exact Jaccard verification on candidates only; result EQUALS the
    * uncapped [[ngramJaccardPairs]] baseline (oracle-provable).
    *
    * Scale shape: one gram-scale dfreq aggregation (map-side combined) +
    * one doc-partitioned window for the prefix rank, then the equality
    * self-join on PREFIX grams only. The df-ascending order is the
    * published heuristic that makes prefix blocks small by construction —
    * a gram's block size is bounded by its document frequency, and
    * frequent grams are exactly the ones the prefix excludes. */
  def prefixJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                         k: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    graft.plans.GraftExtensions.register(df.sparkSession)
    import org.apache.spark.sql.expressions.Window
    // Epsilon-guarded ceil: a float product like 0.3·10 evaluates to
    // 3.0000000000000004 and a bare ceil would round the EXACT integer up —
    // shortening the prefix / raising the overlap bound and silently
    // breaking the perfect-recall theorem. The epsilon only ever relaxes
    // the bound (more candidates), never tightens it.
    def safeCeil(c: Column): Column = ceil(c - lit(1e-7))
    val grams = wordShingles(df, idCol, textCol, k)
    val dfreq = grams.groupBy("gram").agg(count(lit(1)).as("__df"))
    val wRank = Window.partitionBy("id").orderBy(col("__df").asc, col("gram").asc)
    val wSize = Window.partitionBy("id")
    // NOT checkpointed (round-16 measurement): the self-join computes this
    // window pipeline once per side, but the two subtrees run as
    // CONCURRENT stages and overlap across cores — materializing the
    // table once serialized them behind a checkpoint barrier and read
    // 0.4-0.6 s WORSE at sf0.1 (2.44 -> 2.6-3.0 s quiet), the same
    // exchange-dominated lesson as the unspread gram stream above.
    val prefix = grams.join(dfreq, Seq("gram"))
      .withColumn("__n", count(lit(1)).over(wSize))
      .withColumn("__rn", row_number().over(wRank))
      .filter(col("__rn") <= col("__n") - safeCeil(lit(threshold) * col("__n")) + 1)
      .select(col("id"), col("gram"), col("__n").as("n"), col("__rn").as("pos"))
    // positional filter (PPJoin): a pair's globally-smallest shared token at
    // prefix positions (i, j) bounds the overlap by 1 + min(n_a−i, n_b−j);
    // J ≥ t needs overlap ≥ ⌈t/(1+t)·(n_a+n_b)⌉, so candidates whose every
    // shared prefix token fails the bound are provably below threshold —
    // the filter runs in-join, before the distinct pays for the pair.
    val alpha = safeCeil(lit(threshold / (1.0 + threshold)) * (col("a.n") + col("b.n")))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.gram") === col("b.gram") && col("a.id") < col("b.id") &&
          // epsilon-relaxed like safeCeil: 10·0.3 → 3.0000000000000004
          // would otherwise drop an exactly-at-threshold pair (J = 3/10
          // at t = 0.3) and break the perfect-recall contract
          greatest(col("a.n"), col("b.n")) * threshold - lit(1e-7) <= least(col("a.n"), col("b.n")) &&
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) + 1 >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // In-row verification: candidates ≪ corpus, so join the candidate pairs
    // against the per-doc gram ARRAY (the shingle expression itself — no
    // aggregation) and intersect in-row. Two id-equality joins + one narrow
    // projection replace the gram-scale semi-join/explode/re-join pipeline;
    // nothing gram-sized shuffles after candidate generation.
    //
    // Checkpoint + spread the CANDIDATE side (round 16, the
    // lshVerifyHarness idiom): the planner broadcasts the per-doc gram
    // arrays, so the array_intersect verify runs at the PROBE side's
    // parallelism — the distinct's AQE-coalesced output, which byte-based
    // coalescing funnels into 2-4 tasks (125k pairs ≈ a few MB) while
    // each pair costs real CPU. q100 read 2.9-3.2 s across five rounds of
    // captures; a 32-task floor A/B probe read 1.7 s, and the stage
    // bisection put the whole delta in this verify stage. The eager
    // checkpoint makes the frame a leaf (the spread probe stays
    // planning-only — probing the live candidate join under AQE would
    // execute it), and is bounded by the prefix-filter yield, the set the
    // harness must hold anyway. At scale the checkpoint keeps its
    // partition count and the spread is identity. The GRAM stream
    // (wordShingles above) stays unspread — its consumers are
    // exchange-dominated and the r15 measurement showed spreading it 2.2x
    // WORSE; same for the verify's doc-side input, whose arrays travel by
    // broadcast (one small build, no per-task win from spreading it).
    // The eager checkpoint runs the whole candidate build (the gram dfreq
    // aggregate, the two prefix windows, the positional self-join, the
    // distinct) — small-byte stages byte-based AQE coalescing
    // underparallelizes — so the action runs inside the scoped
    // spread-floor bracket (the Graph/DupClusters idiom; restored on
    // exit). A/B over 4-5 quiet sf0.1 runs each: bracket on 2.06-2.46 s
    // (mean 2.27), off 2.15-2.65 s (mean 2.39) — a small consistent win,
    // most of the round-16 gain being the checkpoint+spread itself.
    // GATED on the few-split probe of the CORPUS scan: on a corpus that
    // already carries parallelism-many splits the same checkpoint is a
    // pure barrier — it serialized the candidate build against the
    // verify side's gram build and read +2.6-3.6 s at sf1 (measured
    // round 16) — so at scale the candidates flow lazily, as before. The
    // gate's order-controlled sf0.1/sf1/sf10 A/B is recorded in BASELINE.md
    // (round-17 q100 adjudication: spread ON wins only on few-split corpora).
    // Two materializations ON PURPOSE (round-16 review suggested fusing
    // into one cand.repartition(p).localCheckpoint — measured 1.2-1.6 s
    // WORSE at sf0.1: with the user repartition as the query's final
    // stage, AQE plans the candidate build around it differently, while
    // the checkpoint-first form materializes the build at its own AQE
    // plan and then reshuffles a candidate-bounded LEAF, which is
    // trivial). Probe cost is zero: the checkpointed frame is a leaf.
    val candSpread =
      if (Checkpoints.fewSplit(df))
        Checkpoints.withSpreadFloor(df.sparkSession) {
          Checkpoints.spreadForCpu(cand.localCheckpoint(eager = true))
        }
      else cand
    val gsets = df.select(idCol.as("id"),
      call_function("graft_shingles", textCol, lit(k)).as("g"))
    candSpread
      .join(gsets.select(col("id").as("id_a"), col("g").as("__ga")), Seq("id_a"))
      .join(gsets.select(col("id").as("id_b"), col("g").as("__gb")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("__ga"), col("__gb"))).cast("long"))
      .withColumn("jaccard", round(col("n_inter") /
        (size(col("__ga")).cast("long") + size(col("__gb")).cast("long") - col("n_inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash-banded near-duplicate pairs: fingerprint with the native
    * `graft_simhash64` expression, split the 64-bit string into `bands`
    * equal substrings, take candidate pairs from exact band equality, verify
    * with exact hamming distance ≤ `maxHamming` via `graft_hamming`.
    *
    * Pigeonhole guarantee: any pair within hamming `bands - 1` differs in
    * fewer positions than there are bands, so at least one band matches
    * exactly — candidate generation has perfect recall for
    * `maxHamming < bands`. The self-join is equality-based on (band,
    * substring), so at corpus scale it shuffles on the band-key domain and
    * AQE splits hot fingerprint buckets; nothing is ever compared pairwise
    * globally. */
  def simHashHammingPairs(df: DataFrame, idCol: Column, textCol: Column,
                          bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxHamming < bands,
      s"banding only guarantees recall for maxHamming < bands ($maxHamming >= $bands)")
    graft.plans.GraftExtensions.register(df.sparkSession)
    val width = 64 / bands
    val fp = df.select(idCol.as("id"), call_function("graft_simhash64", textCol).as("fp"))
      .where(col("fp").isNotNull)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"), substring(col("fp"), b * width + 1, width).as("sub"))
    }
    val banded = fp
      .select(col("id"), col("fp"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("fp"), col("bb.band").as("band"), col("bb.sub").as("sub"))
    // Hamming BEFORE distinct: the per-row byte compare is codegen'd and
    // cheap (re-computing it for a pair that matched in several bands costs
    // nothing), while running distinct first would shuffle the whole
    // candidate set carrying both 64-char fingerprints. Filtering to the
    // accepted pairs first means the dedup exchange only carries the
    // near-dup survivors as (id, id, long) rows. Hamming is functionally
    // determined by the pair, so distinct-after-filter is equivalent.
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sub") === col("b.sub") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        call_function("graft_hamming", col("a.fp"), col("b.fp")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash: 64-bit fingerprint over a document's distinct lower-cased
    * single-space words, md5-derived bit votes, rendered as a 64-char
    * '0'/'1' string (engine-portable, no uint64). Output: (id, simhash),
    * one row per input row; documents without a word (null, empty or
    * all-space text) are absent.
    *
    * Computed by the codegen'd `graft_simhash64` expression
    * ([[graft.plans.SimHash64]], shared with q30): one fused pass per
    * document, no explode, no shuffle. The q25 oracle keeps the composed
    * formulation (64 bit-rows per distinct word, `sum(vote)` by (id, bit),
    * bits re-assembled per id), and `SimHash64Spec` checks the two agree.
    *
    * Precondition: `idCol` is unique. The composed form grouped by id, so
    * two rows sharing an id pooled their words; this form fingerprints
    * each row on its own. */
  def simHash(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    df.select(idCol.as("id"), call_function("graft_simhash64", textCol).as("simhash"))
      .where(col("simhash").isNotNull)
  }

  /** (id, n = capped total mass, gram, tf = capped term frequency) rows —
    * the weighted family's shared verification frame. `tfCap ≤ 0` = no
    * cap (n is then just the gram count).
    *
    * The per-document tf map AND the capped mass are computed IN-ROW by
    * the native `graft_tf(text, k, cap)` expression and exploded straight
    * to (id, n, gram, tf) — one narrow Generate, no aggregation, no join.
    * Two retired shapes, both measured this round: exploding every gram
    * OCCURRENCE through a distributed `groupBy(id, gram).count()` paid a
    * full hash aggregation + exchange ahead of the gram join (stage
    * profile: 16.6 of q146's ~24 warm CPU-s); and deriving the capped
    * mass as `groupBy(id).agg(sum(tf))` + join-back made the mass side a
    * one-row-per-doc shuffle that AQE coalesced to ONE partition — the
    * whole post-join verify pipeline then ran as a single 1.8 s task over
    * 0.1 MB of input (q150's whale-task flag, benchgate SKEW). Output
    * rows, types and values are identical to both retired forms. */
  private def cappedTf(df: DataFrame, idCol: Column, textCol: Column,
                       k: Int, tfCap: Int): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    Checkpoints.spreadForCpu(df)
      .where(idCol.isNotNull)
      .select(idCol.as("id"),
        explode(call_function("graft_tf", textCol, lit(k), lit(math.max(tfCap, 0)))).as("e"))
      .select(col("id"), col("e.n").cast("long").as("n"),
        col("e.gram").as("gram"), col("e.tf").cast("long").as("tf"))
  }

  /** Weighted (term-frequency) Jaccard near-dup pairs — the MULTISET
    * overlap `J_w(A,B) = Σ_g min(tf_A(g), tf_B(g)) / Σ_g max(tf_A(g),
    * tf_B(g))` (generalized/weighted Jaccard, the quantity weighted
    * minhash schemes like ICWS estimate). The set-based family (L4/L53)
    * dedupes grams first, so a document that repeats a phrase 50 times
    * and one that uses it once look identical; the weighted form scores
    * how much of the TOKEN MASS overlaps — the right notion for
    * template-spam and boilerplate-amplified near-dups.
    *
    * Identities used: grams are counted WITH multiplicity (`na`/`nb` =
    * total gram count, not distinct), and `Σ max = na + nb − Σ min`, so
    * one intersection pass suffices. All math integer (counts + one ppm
    * division), hash-exact cross-engine.
    *
    * Scale shape: one map-side-combinable (id, gram) tf aggregation, one
    * gram equi-self-join (the q19 shape, one shuffle), one pair groupBy.
    * `maxDocFreq` is the same stop-gram cap as [[ngramJaccardPairs]]:
    * grams in more than that many DOCS are dropped before the self-join
    * (pair mass is O(df²) per gram); sizes still count all grams, so the
    * capped score is a lower bound of the exact one.
    *
    * Output: (id_a, id_b, min_sum, na, nb, jw_ppm) at `jw_ppm ≥
    * threshold` ppm, id_a < id_b. */
  def weightedJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                           k: Int, threshold: Double,
                           maxDocFreq: Long = 0L, tfCap: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val thrPpm = math.round(threshold * 1e6)
    val tf = cappedTf(df, idCol, textCol, k, tfCap)
    val kept =
      if (maxDocFreq <= 0L) tf
      else {
        // doc-frequency census over tf rows (one row per doc per gram);
        // tiny hot set, materialized once — the ngramInterCounts pattern.
        val hot = tf.groupBy("gram").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDocFreq).select(col("gram").as("__hot_gram"))
          .localCheckpoint(true)
        tf.join(hot, col("gram") === col("__hot_gram"), "left_anti")
      }
    kept.as("a").join(kept.as("b"),
        col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(sum(least(col("a.tf"), col("b.tf"))).as("min_sum"))
      .withColumn("jw_ppm",
        expr("(1000000 * min_sum) div (na + nb - min_sum)"))
      .filter(col("jw_ppm") >= thrPpm)
      .select("id_a", "id_b", "min_sum", "na", "nb", "jw_ppm")
  }

  /** Weighted MinHash signatures, wide form: `id, mh_0..mh_{n-1},
    * n_grams` where `n_grams` is the CAPPED MASS `Σ min(tf, tfCap)` —
    * computed by the native `graft_minhash_w` expression as a narrow map
    * (no explode, no shuffle; the [[minHashSignatures]] scale contract).
    * Component collision probability is the capped weighted Jaccard, so
    * LSH banding over these signatures buckets by J_w. */
  def weightedMinHashSignatures(df: DataFrame, idCol: Column, textCol: Column,
                                k: Int, numHashes: Int, tfCap: Int): DataFrame = {
    require(tfCap >= 1, s"tfCap must be >= 1, got $tfCap")
    graft.plans.GraftExtensions.register(df.sparkSession)
    Checkpoints.spreadForCpu(df).select(idCol.as("id"),
        call_function("graft_minhash_w", textCol, lit(k), lit(numHashes), lit(tfCap)).as("s"))
      .where(col("s").isNotNull)
      .select(col("id") +:
        (0 until numHashes).map(i => col("s.mh")(i).as(s"mh_$i")) :+
        col("s.n_grams").cast("long").as("n_grams"): _*)
  }

  /** Full weighted-MinHash LSH near-dup: L77's scale path. Candidates
    * from banding the [[weightedMinHashSignatures]] (same
    * [[lshCandidates]] machinery — the bucket key only reads `mh_*`),
    * verified with the EXACT capped weighted Jaccard ≥ threshold (ppm
    * integer math). Mirrors [[minHashLshPairs]]'s scale choices:
    * signatures persisted (the table a production pipeline would
    * materialize), candidate broadcast gated on a measured count, tf
    * rows built only for documents appearing in a candidate pair.
    * Output: (id_a, id_b, min_sum, na, nb, jw_ppm). */
  def weightedMinHashLshPairs(df: DataFrame, idCol: Column, textCol: Column,
                              k: Int, numHashes: Int, rowsPerBand: Int,
                              threshold: Double, tfCap: Int,
                              maxBucketSize: Long = Long.MaxValue): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val thrPpm = math.round(threshold * 1e6)
    lshVerifyHarness(df, idCol,
      weightedMinHashSignatures(df, idCol, textCol, k, numHashes, tfCap),
      rowsPerBand, maxBucketSize) { (cand, narrowed) =>
      def tfSide(pairIdCol: String): DataFrame =
        cappedTf(narrowed(pairIdCol), idCol, textCol, k, tfCap)
          .select(col("id").as(pairIdCol), col("gram"), col("tf").as(s"__tf_$pairIdCol"))
      tfSide("id_a")
        .join(cand.select("id_a", "id_b", "na", "nb"), Seq("id_a"))
        .join(tfSide("id_b"), Seq("id_b", "gram"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(sum(least(col("__tf_id_a"), col("__tf_id_b"))).as("min_sum"))
        .withColumn("jw_ppm",
          expr("(1000000 * min_sum) div (na + nb - min_sum)"))
        .filter(col("jw_ppm") >= thrPpm)
        .select("id_a", "id_b", "min_sum", "na", "nb", "jw_ppm")
    }
  }

  /** b-bit minhash agreement (Li & König, WWW 2010): per candidate pair,
    * the full-signature component agreement AND the b-bit estimate —
    * signatures stored at `b` bits per component instead of a full hash
    * are 32-128× smaller (the store-size lever for [[IncrementalDedup]]'s
    * 100 TB signature table), at the price of random collisions the
    * published unbiased estimator inverts:
    * `ŝ = (m/k − 2⁻ᵇ) / (1 − 2⁻ᵇ)`, here in exact integer ppm
    * (clamped at 0). The b bits are the low bits of each component's
    * final hex digit — reproducible by the SQL oracle.
    *
    * Scale shape: two id-equi-joins of the candidate set against the
    * signature table, all comparisons in-row — candidates ≪ corpus by
    * LSH construction. Output: (id_a, id_b, m_full, m_bbit,
    * agree_full_ppm, est_bbit_ppm). */
  def bBitAgreement(sigs: DataFrame, candidates: DataFrame,
                    numHashes: Int, b: Int): DataFrame = {
    require(b >= 1 && b <= 4, "b in 1..4 (bits of one hex digit)")
    val m = 1 << b
    def lowb(c: Column) =
      pmod(instr(lit("0123456789abcdef"), substring(c, 32, 1)) - 1, lit(m))
    val sa = sigs.select(col("id").as("id_a") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"__a$i")): _*)
    val sb = sigs.select(col("id").as("id_b") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"__b$i")): _*)
    val joined = candidates.select("id_a", "id_b").distinct()
      .join(sa, "id_a").join(sb, "id_b")
    val mFull = (0 until numHashes)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1L).otherwise(0L)).reduce(_ + _)
    val mBbit = (0 until numHashes)
      .map(i => when(lowb(col(s"__a$i")) === lowb(col(s"__b$i")), 1L).otherwise(0L)).reduce(_ + _)
    joined.select(col("id_a"), col("id_b"), mFull.as("m_full"), mBbit.as("m_bbit"))
      .withColumn("agree_full_ppm", expr(s"(1000000 * m_full) div $numHashes"))
      .withColumn("est_bbit_ppm", greatest(lit(0L),
        expr(s"(1000000 * (m_bbit * $m - $numHashes)) div ${numHashes * (m - 1)}")))
  }

  /** LSH banding S-curve planner — the table an engineer reads BEFORE
    * picking `rowsPerBand`: for every divisor split (r rows/band × b
    * bands = numHashes) and every Jaccard level j on a 1%-grid, the
    * candidate probability `p = 1 − (1 − jʳ)ᵇ`. Computed in ppm
    * FIXED-POINT (each power step is `(acc · x) div 10⁶` — pure integer,
    * so the table is bit-identical everywhere; each multiply truncates
    * < 1 ppm, and the truncations compose in both directions through
    * the two nested powers, so |p − exact| < r + b ppm — far inside any
    * planning tolerance, and the spec bounds it against double math). Bounded
    * metadata (divisors × 99 rows) built driver-side — this is a
    * planning table, not a data operator.
    * Output: (rows_per_band, bands, j_pct, p_cand_ppm). */
  def lshTuning(spark: org.apache.spark.sql.SparkSession,
                numHashes: Int): DataFrame = {
    require(numHashes >= 1, s"numHashes >= 1, got $numHashes")
    def powPpm(base: Long, e: Int): Long = {
      var acc = 1000000L
      var i = 0
      while (i < e) { acc = acc * base / 1000000L; i += 1 }
      acc
    }
    val rows = for {
      r <- (1 to numHashes) if numHashes % r == 0
      b = numHashes / r
      jPct <- 1 to 99
    } yield {
      val j = jPct * 10000L // percent -> ppm
      val pCand = 1000000L - powPpm(1000000L - powPpm(j, r), b)
      (r, b, jPct, pCand)
    }
    import spark.implicits._
    rows.toDF("rows_per_band", "bands", "j_pct", "p_cand_ppm")
  }
}
