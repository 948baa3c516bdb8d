package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions

/** Embedding similarity search.
  *
  * `cosineTopK` is the exact brute-force baseline (quadratic — correctness
  * oracle and small-query-set serving). `lshCosineTopK` is the scale path:
  * deterministic random-hyperplane buckets bound the candidate set so the
  * join is equality-based and AQE-skew-splittable instead of a cross join.
  *
  * Per-pair arithmetic runs through the native `graft_dot` expression
  * (`plans.DotProduct`, codegen'd tight loop) with norms precomputed once
  * per vector — the higher-order-function form (`aggregate(zip_with(...))`)
  * costs a lambda dispatch per element and recomputes norms per pair, which
  * at n² pairs is the entire runtime. Both forms sum left-to-right, so
  * results are bit-identical.
  */
object Similarity {

  /** Portable fold form — kept as the reference semantics (what the SQL
    * oracles express); prefer `nativeDot` in hot paths. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def nativeDot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** (id, vec, norm) projection with the norm computed once per vector. */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
                       idName: String, vecName: String, normName: String): DataFrame =
    df.select(col(idCol).as(idName), col(vecCol).cast("array<double>").as(vecName))
      .withColumn(normName, sqrt(nativeDot(col(vecName), col(vecName))))

  /** Exact top-k cosine neighbors for each query vector (queries = a
    * predicate over the corpus itself). Ranking uses the rounded similarity
    * plus neighbor id so ordering is total and engine-independent. */
  def cosineTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                 queryPredicate: Column, k: Int): DataFrame = {
    GraftExtensions.register(embeddings.sparkSession)
    val e = withNorm(embeddings, idCol, vecCol, "nid", "nvec", "nnorm")
    val q = withNorm(embeddings.filter(queryPredicate), idCol, vecCol, "qid", "qvec", "qnorm")
    // broadcast the small query set against the full corpus — never the
    // corpus side (at 100 TB the corpus is the big side of this product)
    val sims = e.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(nativeDot(col("qvec"), col("nvec")) / (col("qnorm") * col("nnorm")), 3).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs with cosine ≥
    * threshold. Brute-force n²/2 — the correctness baseline; at corpus scale
    * run [[lshCosineTopK]]-style bucketing first and verify within buckets
    * (same shape as MinHash-LSH's candidate→verify split). Similarity is
    * quantized (`floor(sim·10⁴)`) so the threshold cut is engine-portable. */
  def cosineNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    GraftExtensions.register(embeddings.sparkSession)
    val a = withNorm(embeddings, idCol, vecCol, "id_a", "va", "na")
    val b = withNorm(embeddings, idCol, vecCol, "id_b", "vb", "nb")
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        floor(nativeDot(col("va"), col("vb")) / (col("na") * col("nb")) * 10000).cast("long").as("sim_q"))
      .filter(col("sim_q") >= (threshold * 10000).toLong)
  }

  /** LSH-bucketed embedding near-dup pairs — the SCALE path for the
    * threshold-pairs shape (find ALL pairs with cosine ≥ threshold, the
    * dedup-relevant query [[cosineNearDupPairs]] answers by brute force).
    *
    * `numTables` independent sign-bucket tables of `planes` hyperplanes
    * each: a pair is a candidate when all `planes` sign bits agree in at
    * least one table (per-table collision probability (1 − θ/π)^planes, so
    * multiple tables trade work for recall — recall < 1 by design, like any
    * LSH index; [[cosineNearDupPairs]] is the exact baseline). The
    * self-join is equality-keyed on (table, bucket): at corpus scale it
    * shuffles on the bucket domain (AQE-skew-splittable) and nothing is
    * ever compared all-pairs. Vectors+norms ride through the bucket join
    * (same shape as [[NearDup.simHashHammingPairs]] carrying fingerprints):
    * the cosine filter runs codegen'd per matching bucket row BEFORE the
    * dedup exchange, so distinct only shuffles surviving (id, id, sim)
    * triples. Plane signs are md5-derived (table t uses plane indices
    * [t·planes, (t+1)·planes)) and the similarity is quantized
    * (`floor(sim·10⁴)`) — fully reproducible in any SQL engine. */
  def cosineNearDupPairsLsh(embeddings: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, planes: Int = 4, numTables: Int = 3,
                            dim: Int = 64,
                            maxBucketSize: Long = Long.MaxValue): DataFrame = {
    GraftExtensions.register(embeddings.sparkSession)
    val signs = planeSigns(numTables * planes, dim)
    val base = withNorm(embeddings, idCol, vecCol, "id", "vec", "nrm")
    val tableBuckets = (0 until numTables).map { t =>
      val bits = (t * planes until (t + 1) * planes).map { j =>
        when(nativeDot(col("vec"), typedlit(signs(j))) >= 0, lit("1")).otherwise(lit("0"))
      }
      struct(lit(t).as("tbl"), concat(bits: _*).as("bucket"))
    }
    val bandedAll = base
      .select(col("id"), col("vec"), col("nrm"), explode(array(tableBuckets: _*)).as("tb"))
      .select(col("id"), col("vec"), col("nrm"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // Same degenerate-bucket bound as NearDup.lshCandidates (recall trade:
    // members of a dropped bucket can still pair in their other tables).
    val banded = NearDup.capBuckets(bandedAll, Seq("tbl", "bucket"), maxBucketSize)
    banded.as("a").join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        floor(nativeDot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")) * 10000)
          .cast("long").as("sim_q"))
      .filter(col("sim_q") >= (threshold * 10000).toLong)
      .distinct()
  }

  /** Deterministic pseudo-random hyperplane signs, md5-derived per
    * (plane j, dimension d) — computed once on the driver and shipped as
    * literal arrays, NOT per row (an expression form would re-hash
    * planes×dim times for every row). */
  private def planeSigns(planes: Int, dim: Int): IndexedSeq[Seq[Double]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until planes).map { j =>
      (0 until dim).map { d =>
        val h = digest.digest(s"$j:$d".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xf) < 8) 1.0 else -1.0
      }
    }
  }

  /** IVF-style ANN (inverted-file index): coarse centroids are a
    * deterministic sample of the corpus (`id % centroidMod == 0`); every
    * vector is assigned to its nearest centroid by quantized cosine
    * (`floor(10⁴·cos)`, centroid-id tiebreak — total order, engine-
    * portable); each query then searches the inverted lists of its
    * `nprobe` nearest centroids. Cost drops from n² to ~n²·nprobe/C for C
    * centroids.
    *
    * Scale shape: the centroid set is tiny → broadcast for assignment (a
    * narrow pass over the corpus — no shuffle); the probe join is
    * equality-keyed on the centroid id, so hot centroids are AQE-skew-
    * splittable; the query set is broadcast. Multi-probe (`nprobe` > 1) is
    * the standard recall knob — vectors near a centroid boundary live in
    * one list but score high against queries assigned to the neighboring
    * list; probing the runner-up centroids recovers them. The query-side
    * top-nprobe centroid pick runs through the native bounded-heap
    * [[graft.plans.TopKPerKey]] plan (no sort, survivors-only shuffle),
    * and corpus vectors stay in exactly ONE list, so probe candidates are
    * naturally distinct — no dedup exchange. Recall < 1 by design (as
    * with any IVF index) — [[cosineTopK]] is the exact baseline. */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              queryPredicate: Column, k: Int, centroidMod: Int,
              nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    GraftExtensions.register(embeddings.sparkSession)
    val base = embeddings.select(col(idCol), col(vecCol).cast("array<double>").as("__vec"))
      .withColumn("__norm", sqrt(nativeDot(col("__vec"), col("__vec"))))
    val cent = base.filter(col(idCol) % centroidMod === 0)
      .select(col(idCol).as("cid"), col("__vec").as("cvec"), col("__norm").as("cnorm"))
    // Nearest centroid by (csim desc, cid asc) as a primitive MAX: pack
    // (csim, cid) into one long — csim in the high bits, bit-inverted cid in
    // the low 40 — so argmax-with-tiebreak is max(long). A primitive max
    // keeps the aggregation in HashAggregate with map-side combine (the
    // shuffle carries ONE row per vector, not C), where a window would
    // sort+shuffle all n·C rows and a struct-max falls back to
    // SortAggregate. Requires 0 <= id < 2^40 (~10^12) — comfortable for
    // vector ids — and |csim| <= 10^4 by construction.
    val P = 1L << 40
    val assignedIds = base.crossJoin(broadcast(cent))
      .select(col(idCol),
        ((floor(nativeDot(col("__vec"), col("cvec")) / (col("__norm") * col("cnorm")) * 10000)
          .cast("long") + 20000L) * P + (lit(P - 1) - col("cid"))).as("__packed"))
      .groupBy(idCol)
      .agg(max(col("__packed")).as("__p"))
      .select(col(idCol), (lit(P - 1) - pmod(col("__p"), lit(P))).as("cid"))
    val assigned = base.join(assignedIds, idCol)
    val q =
      if (nprobe == 1)
        // a query's top-1 probe IS its assigned centroid — reuse the
        // assignment instead of re-scoring
        assigned.filter(queryPredicate)
          .select(col(idCol).as("qid"), col("__vec").as("qvec"), col("__norm").as("qnorm"), col("cid"))
      else {
        // top-nprobe centroids per query: score the (small) query set
        // against the broadcast centroids, keep the nprobe best via the
        // bounded-heap native plan ordered by the same packed key the
        // assignment argmax uses (sim desc, cid asc — total order).
        val probes = TopK.topKPerKeyNative(
          base.filter(queryPredicate).crossJoin(broadcast(cent))
            .select(col(idCol).as("qid"), col("cid"),
              ((floor(nativeDot(col("__vec"), col("cvec")) / (col("__norm") * col("cnorm")) * 10000)
                .cast("long") + 20000L) * P + (lit(P - 1) - col("cid"))).as("__packed")),
          Seq(col("qid")), Seq(col("__packed").desc), nprobe)
          .select(col("qid"), col("cid"))
        base.filter(queryPredicate)
          .select(col(idCol).as("qid"), col("__vec").as("qvec"), col("__norm").as("qnorm"))
          .join(probes, "qid")
      }
    val n = assigned
      .select(col(idCol).as("nid"), col("__vec").as("nvec"), col("__norm").as("nnorm"), col("cid"))
    val sims = n.join(broadcast(q), Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        floor(nativeDot(col("qvec"), col("nvec")) / (col("qnorm") * col("nnorm")) * 10000)
          .cast("long").as("sim_q"))
    val w = Window.partitionBy("qid").orderBy(col("sim_q").desc, col("nid").asc)
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim_q"), col("rank").cast("long").as("rank"))
  }

  /** Bucketed ANN: `planes` sign-bits form the bucket key; top-k search runs
    * only within each bucket (recall < 1, cost ~ n²/2^planes per bucket). */
  def lshCosineTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                    queryPredicate: Column, k: Int, planes: Int, dim: Int = 64): DataFrame = {
    GraftExtensions.register(embeddings.sparkSession)
    val signs = planeSigns(planes, dim)
    val withBucket = embeddings.withColumn("__bucket",
      concat_ws("", signs.map { sv =>
        when(nativeDot(col(vecCol).cast("array<double>"), typedlit(sv)) >= 0, lit("1")).otherwise(lit("0"))
      }: _*))
    def side(df: DataFrame, idName: String, vecName: String, normName: String) =
      df.select(col(idCol).as(idName), col(vecCol).cast("array<double>").as(vecName), col("__bucket").as("bucket"))
        .withColumn(normName, sqrt(nativeDot(col(vecName), col(vecName))))
    val q = side(withBucket.filter(queryPredicate), "qid", "qvec", "qnorm")
    val n = side(withBucket, "nid", "nvec", "nnorm")
    val sims = n.join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(nativeDot(col("qvec"), col("nvec")) / (col("qnorm") * col("nnorm")), 3).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
