package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale defaults.
  *
  * Local testing runs `local[32]`; on a real cluster the same settings hold:
  * AQE re-plans shuffles at runtime (coalescing small partitions, splitting
  * skewed ones), and the broadcast threshold keeps dimension joins off the
  * shuffle path.
  */
object GraftSession {

  /** Entries of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). A
    * long-lived driver re-plans the same shapes batch after batch; once the
    * cache is smaller than that working set, LRU order evicts every class
    * before its next use and janino recompiles all of it on each repeat.
    * Measured working sets (distinct generated classes per JVM, one cold
    * and the warm iterations of `perfbench`): `stream_store` 212 (432 with
    * 100 entries: its warm iterations recompiled everything), `query_mix`
    * 89, `mailing_daily` 83. The cache is split into 4 LRU segments, so the
    * cap sits at more than 2x the largest working set. Each cached class
    * stays resident: `stream_store`'s peak RSS went up about 5%.
    *
    * The setting is STATIC: Spark reads it once per JVM, when
    * `CodeGenerator` first initializes. A session built outside
    * [[builder]], or built after generated code has already been compiled
    * in the JVM, keeps Spark's 100. */
  val CodegenCacheEntries = 512

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE partition coalescing keeps Spark's DEFAULT 1MB
      // minPartitionSize floor session-wide. Round 14 set a global 16KB
      // floor here (byte-based coalescing had funneled q109's CPU-dense
      // 12M-row/1MB-partials frontier dedup into one 7 s task at sf1),
      // but the global knob taxed every tiny stage of every query with
      // ~32-task scheduling overhead — q126's five peel rounds read 1.8x
      // slower at sf0.1 (round-15 adjudication). The low floor is now
      // SCOPED to the iterative loops that need it
      // (Checkpoints.withSpreadFloor — BFS seedDistances, DupClusters);
      // BASELINE.md records the global-versus-scoped probes.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // TIMESTAMP(NANOS) parquet (produced by some writers; the events
      // testdata has flip-flopped types across regenerations) reads as
      // LongType instead of failing; Tables.events normalizes from
      // whichever type loaded. Set ONCE here — a per-read conf mutation
      // would silently change how unrelated nanos parquet in the same
      // session reads.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Local session sized like the driver's harness. The graft function
    * set (graft_md5_fold48, graft_jaro_winkler, …) registers here so
    * column helpers like `DistinctSketch.portableHash48` resolve even
    * when used before any operator entry point (which also register,
    * idempotently, for sessions built elsewhere). */
  def local(appName: String = "graft", cores: Int = 32): SparkSession = {
    val s = builder(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(s)
    s
  }
}
