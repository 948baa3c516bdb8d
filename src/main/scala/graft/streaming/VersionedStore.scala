package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch-versioned lake directories with commit markers — the shared
  * mechanics of the "state in the lake, not the state store" streaming
  * family: [[StreamDedupAdmit]] (S17), [[StreamSketch]] (S19),
  * [[StreamAbTest]] (S20), [[StreamConcurrency]] (S21),
  * [[StreamBlocklist]] (S22), [[StreamRemittance]] (S23),
  * [[StreamNetting]] (S24) and [[StreamPrivacyGate]]'s lake tier (S16).
  * Each micro-batch commits through [[commitBatch]], which publishes
  * `b<batchId>` with a `_GRAFT_COMMIT` marker written AFTER the data, so
  * at-least-once `foreachBatch` replays detect their committed version and
  * skip (exactly-once effects), and torn writes are invisible to readers.
  *
  * LOG COMPACTION (round-17): sub-stores with LOG semantics (released
  * rows, dead letters, allocations, verdicts — appended per batch,
  * unioned at read) grow one directory per batch for the stream's
  * lifetime — an unbounded small-files walk at production lifetimes.
  * [[compactLogs]] rewrites every committed version EXCEPT the newest
  * into one `c<coveredId>` directory (marker-last, same torn-write
  * discipline as [[commitBatch]]) and [[readLog]] reads compaction +
  * b-versions with id > coveredId, so a crash between the compaction
  * marker and the covered-directory deletes can never double-count —
  * superseded directories are excluded BY ID, not by absence, and the
  * next compaction sweeps the stragglers. The newest b-version is never
  * covered: state reads ([[readLatest]]) and the at-least-once replay
  * check (the marker of the one batch Spark can re-run after a crash —
  * the last one, whose own publish committed before the streaming
  * checkpoint did) both stay intact across a compaction at any point. */
object VersionedStore {

  val Commit = "_GRAFT_COMMIT"

  def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed version directories, oldest → newest. */
  def committedVersions(spark: SparkSession, baseDir: String): Seq[Path] = {
    val dir = new Path(baseDir)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("b\\d{12}") &&
        f.exists(new Path(s.getPath, Commit)))
      .map(_.getPath).sortBy(_.getName)
  }

  /** Target dir for a batch id. */
  def versionDir(baseDir: String, batchId: Long): Path =
    new Path(new Path(baseDir), f"b$batchId%012d")

  /** A sub-store's directory inside a version; the sub `""` is the version
    * root, where the single-frame stores write. */
  private def subPath(version: Path, sub: String): Path =
    if (sub.isEmpty) version else new Path(version, sub)

  private def readSub(spark: SparkSession, version: Path, sub: String): DataFrame =
    spark.read.parquet(subPath(version, sub).toString)

  /** The newest committed version's `sub` store; None before the first
    * commit. State reads the LAST version only (state, not logs). */
  def readLatest(spark: SparkSession, baseDir: String, sub: String): Option[DataFrame] =
    committedVersions(spark, baseDir).lastOption.map(readSub(spark, _, sub))

  /** Commit one micro-batch as version `b<batchId>` — the one commit path
    * of the operators above:
    *   - a batch whose marker exists is a replay: nothing runs;
    *   - otherwise the directory is listed once, and `build` gets a reader
    *     for the newest committed version's sub-stores (None before the
    *     first commit) and returns the batch's (sub, frame) pairs;
    *   - [[publish]] writes the frames concurrently, then the marker.
    * The batch's jobs carry the job description `<store dir> b<batchId>`
    * (the caller's description is restored after), its writes
    * `<store dir> b<batchId>/<sub>`, so a job listing names the store and
    * the batch, AQE stage jobs included. Caller guarantee: the returned
    * frames must not depend on one another (projections/aggregations of
    * inputs that exist before the call). Returns the version directory,
    * committed now or by the earlier run a replay skipped. */
  def commitBatch(spark: SparkSession, baseDir: String, batchId: Long)
                 (build: (String => Option[DataFrame]) => Seq[(String, DataFrame)]): Path = {
    val target = versionDir(baseDir, batchId)
    if (fs(spark, target).exists(new Path(target, Commit))) return target
    val latest = committedVersions(spark, baseDir).lastOption
    val label = s"${new Path(baseDir).getName} b$batchId"
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try publish(spark, target, label, build(sub => latest.map(readSub(spark, _, sub))))
    finally sc.setJobDescription(prev)
    target
  }

  /** Write a version's INDEPENDENT sub-store frames CONCURRENTLY, then
    * drop the commit marker. Run back to back, each write is its own
    * Spark job paying a full plan + schedule + fs-commit round trip while
    * the cluster sits idle between them; submitted from a small thread
    * pool, the next write's planning and scheduling back-fill the
    * previous one's tail (round-19 job audit: q168 8.40 → 5.89 s warm
    * against the sequential form).
    *
    * Failure: the writes run under one job group. The first failed write
    * cancels the group; every write is then waited for, the torn
    * directory is deleted, and the first error is rethrown — so no file
    * of a failed publish lands after this method returns, and the marker
    * never exists. A torn earlier attempt is deleted before the writes. */
  private def publish(spark: SparkSession, target: Path, label: String,
                      subs: Seq[(String, DataFrame)]): Unit = {
    val f = fs(spark, target)
    if (f.exists(target)) f.delete(target, true)
    val sc = spark.sparkContext
    val group = s"graft-publish-${java.util.UUID.randomUUID()}"
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(subs.size, 8)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val writes = try subs.map { case (sub, df) =>
      scala.concurrent.Future {
        if (failure.get == null) try {
          sc.setJobGroup(group, s"$label/$sub", interruptOnCancel = true)
          df.write.parquet(subPath(target, sub).toString)
        } catch {
          case e: Throwable => if (failure.compareAndSet(null, e)) sc.cancelJobGroup(group)
        }
      }
    } finally pool.shutdown()
    writes.foreach(scala.concurrent.Await.ready(_, scala.concurrent.duration.Duration.Inf))
    Option(failure.get).foreach { e => f.delete(target, true); throw e }
    f.create(new Path(target, Commit), true).close()
  }

  /** Numeric id of a `b…`/`c…` version directory. */
  def versionId(p: Path): Long = p.getName.drop(1).toLong

  /** Newest committed compaction directory (`c<coveredId>`), if any. */
  def latestCompaction(spark: SparkSession, baseDir: String): Option[Path] = {
    val dir = new Path(baseDir)
    val f = fs(spark, dir)
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("c\\d{12}") &&
        f.exists(new Path(s.getPath, Commit)))
      .map(_.getPath).sortBy(_.getName).lastOption
  }

  /** The directories a LOG sub-store reads: the compaction's sub (when
    * present) plus b-versions with id > coveredId. Superseded b-versions
    * are excluded by ID even when a crashed compaction left them on disk
    * — re-reading them would double-count rows the compaction already
    * absorbed. */
  def logDirs(spark: SparkSession, baseDir: String, sub: String): Seq[String] = {
    val comp = latestCompaction(spark, baseDir)
    val covered = comp.map(versionId).getOrElse(-1L)
    val f = fs(spark, new Path(baseDir))
    val compSub = comp.map(new Path(_, sub)).filter(f.exists)
    val live = committedVersions(spark, baseDir)
      .filter(versionId(_) > covered)
      .map(new Path(_, sub)).filter(f.exists)
    (compSub.toSeq ++ live).map(_.toString)
  }

  /** Union of a LOG sub-store across the compaction and live versions;
    * None when nothing has committed rows for it yet. mergeSchema because
    * a log's schema may evolve across versions (the rejects-added-later
    * precedent): a single footer's schema would silently drop columns
    * only newer versions carry. Log directories are small (one file set
    * per micro-batch, bounded by compaction), so the extra footer reads
    * are noise. */
  def readLog(spark: SparkSession, baseDir: String, sub: String): Option[DataFrame] = {
    val dirs = logDirs(spark, baseDir, sub)
    if (dirs.isEmpty) None
    else Some(spark.read.option("mergeSchema", "true").parquet(dirs: _*))
  }

  /** Rewrite every committed version EXCEPT the newest into one
    * compaction directory carrying the unioned `logSubs`. Returns true
    * when a new compaction was published. Safe to call between any two
    * batches (e.g. from the foreachBatch body AFTER applyBatch: the
    * just-committed version is the newest, so it is never covered and
    * the crash-replay check stays intact); idempotent — a re-run with
    * nothing new only sweeps directories a previous pass superseded.
    *
    * READER GRACE (round-17 advice): a pass deletes only directories the
    * PREVIOUS pass already superseded (b ≤ prevCovered, c < prevCovered)
    * — never the set it supersedes itself. A concurrent reader (a
    * monitor calling readLog while the sink compacts) that resolved
    * [[logDirs]] just before this pass's marker commit holds exactly
    * {c_prev} ∪ b(prevCovered, newest]; all of it survives the pass, so
    * the listing-to-open race can't hit FileNotFoundException. The
    * just-superseded directories are swept by the NEXT pass (or the next
    * no-op call), so disk stays bounded at ≤ two compaction intervals of
    * versions. Readers are correct either way: superseded directories
    * are excluded BY ID, not by absence. State sub-stores of covered
    * versions are superseded by the newest version's and are dropped on
    * the same schedule. */
  def compactLogs(spark: SparkSession, baseDir: String,
                  logSubs: Seq[String]): Boolean = {
    val f = fs(spark, new Path(baseDir))
    val prev = latestCompaction(spark, baseDir)
    val prevCovered = prev.map(versionId).getOrElse(-1L)
    def sweep(coveredId: Long): Unit = {
      committedVersions(spark, baseDir)
        .filter(versionId(_) <= coveredId).foreach(f.delete(_, true))
      // straggler c-dirs older than the winning one (crash between a
      // compaction's marker and its deletes, then another compaction)
      if (!f.exists(new Path(baseDir))) return
      f.listStatus(new Path(baseDir)).toSeq
        .filter(s => s.getPath.getName.matches("c\\d{12}") &&
          versionId(s.getPath) < coveredId)
        .foreach(s => f.delete(s.getPath, true))
    }
    val versions = committedVersions(spark, baseDir)
    val coveredId = if (versions.size < 2) -1L else versionId(versions.init.last)
    if (coveredId <= prevCovered) { sweep(prevCovered); return false }
    val covered = versions.init.filter(versionId(_) > prevCovered)
    val target = new Path(new Path(baseDir), f"c$coveredId%012d")
    if (f.exists(target)) f.delete(target, true) // torn earlier attempt
    logSubs.foreach { sub =>
      val srcs = (prev.map(new Path(_, sub)).toSeq ++ covered.map(new Path(_, sub)))
        .filter(f.exists).map(_.toString)
      // mergeSchema: the rewrite is PERMANENT (sources are later swept) —
      // taking one file's footer schema would silently drop columns only
      // newer versions carry (round-17 advice; the rejects-added-later
      // schema-evolution precedent).
      if (srcs.nonEmpty)
        spark.read.option("mergeSchema", "true").parquet(srcs: _*)
          .write.parquet(new Path(target, sub).toString)
    }
    f.create(new Path(target, Commit), true).close()
    // Grace sweep: only what the PREVIOUS pass superseded (see scaladoc).
    sweep(prevCovered)
    true
  }
}
