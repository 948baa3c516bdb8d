package graft.streaming

import graft.SparkSpec
import graft.metrics.MetricsListener
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Spark's commit protocol, except that a write into a directory named
  * `right` fails at job commit, after its tasks have written their files. */
class FailRightCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    if (new Path(path).getName == "right") throw new IllegalStateException("injected compaction failure")
    else super.commitJob(jobContext, taskCommits)
}

/** Fault injection on the versioned store's one commit path: a sub-store
  * write that fails while a sibling write is still running, a compaction
  * whose write fails, and a compaction that crashed before its marker. */
class VersionedStoreFaultSpec extends SparkSpec {
  import ss.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_fault_").toString

  /** Regular files anywhere under `dir`; none when it does not exist. */
  private def filesUnder(dir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Nil
    else scala.util.Using.resource(java.nio.file.Files.walk(p))(
      _.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toList)
  }

  private def rows(df: DataFrame): Set[(Long, String)] = df.as[(Long, String)].collect().toSet

  private val goodSubs = (_: String => Option[DataFrame]) =>
    Seq("left" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "right" -> Seq((3L, "c")).toDF("id", "v"))

  test("a failed sub write leaves no file and no marker, and a replay commits the clean version") {
    val base = tmp()
    val slowMs = 3000L
    val fail = udf { (x: Long) =>
      if (x >= 0L) throw new IllegalStateException("injected sub-store failure"); x
    }
    val slow = udf { (x: Long) => Thread.sleep(slowMs); x }
    val err = intercept[Exception] {
      VersionedStore.commitBatch(ss, base, 0L) { _ =>
        // the first sub fails at once; its sibling is still writing then
        Seq("left" -> ss.range(1).select(fail(col("id")).as("id"), lit("x").as("v")),
          "right" -> ss.range(0, 2, 1, 2).select(slow(col("id")).as("id"), lit("y").as("v")))
      }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected sub-store failure")),
      s"the first error is rethrown, got: $err")
    // long enough for an unstopped sibling write to land its files
    Thread.sleep(2 * slowMs)
    val target = VersionedStore.versionDir(base, 0L).toString
    assert(filesUnder(target).isEmpty, s"files of the failed publish: ${filesUnder(target)}")
    assert(VersionedStore.committedVersions(ss, base).isEmpty, "no marker after a failure")

    VersionedStore.commitBatch(ss, base, 0L)(goodSubs)
    val clean = tmp()
    VersionedStore.commitBatch(ss, clean, 0L)(goodSubs)
    Seq("left", "right").foreach { sub =>
      assert(rows(VersionedStore.readLatest(ss, base, sub).get) ==
        rows(VersionedStore.readLatest(ss, clean, sub).get), s"replayed $sub differs from a clean run")
    }
  }

  test("a compaction whose write fails leaves no c directory, and readers see the rows from before") {
    val base = tmp()
    (0L to 2L).foreach { id =>
      VersionedStore.commitBatch(ss, base, id)(_ =>
        Seq("left" -> Seq((id, "l")).toDF("id", "v"), "right" -> Seq((id, "r")).toDF("id", "v")))
    }
    val subs = Seq("left", "right")
    def logs() = subs.map(sub => rows(VersionedStore.readLog(ss, base, sub).get))
    val before = logs()
    val key = "spark.sql.sources.commitProtocolClass"
    val protocol = ss.conf.get(key)
    ss.conf.set(key, classOf[FailRightCommitProtocol].getName)
    val err = try intercept[Exception](VersionedStore.compactLogs(ss, base, subs))
      finally ss.conf.set(key, protocol)
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected compaction failure")),
      s"the write's error is rethrown, got: $err")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(base, "c000000000001")),
      s"files of the failed compaction: ${filesUnder(s"$base/c000000000001")}")
    assert(VersionedStore.latestCompaction(ss, base).isEmpty)
    assert(logs() == before)

    val metrics = new MetricsListener(ss.sparkContext)
    try {
      val from = metrics.mark()
      assert(VersionedStore.compactLogs(ss, base, subs), "the next compaction publishes")
      val store = new Path(base).getName
      assert(metrics.window(from, metrics.mark()).jobs.map(_.desc).toSet == subs.map(sub => s"$store c1/$sub").toSet)
    } finally ss.sparkContext.removeSparkListener(metrics)
    assert(logs() == before)
  }

  test("a torn compaction directory is invisible to readers and the next compaction replaces it") {
    val base = tmp()
    (0L to 2L).foreach { id =>
      StreamAbTest.applyBatch(Seq(("a", 1), ("b", (id % 2).toInt)).toDF("v", "s"),
        col("v"), col("s"), base, id)
    }
    val before = StreamAbTest.verdictsAll(ss, base).get.collect().toSet
    assert(before.size == 3, "one verdict row per batch")
    // a compaction covering b0..b1 that crashed before its marker: its
    // log holds rows the live versions still carry
    val torn = s"$base/c000000000001"
    ss.read.parquet(s"$base/b000000000000/verdicts").write.parquet(s"$torn/verdicts")
    assert(StreamAbTest.verdictsAll(ss, base).get.collect().toSet == before,
      "readers ignore a compaction without its marker")
    assert(VersionedStore.logDirs(ss, base, "verdicts").forall(!_.contains("c000000000001")))

    assert(StreamAbTest.compact(ss, base), "the next compaction covers b0..b1")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(torn, VersionedStore.Commit)))
    val after = StreamAbTest.verdictsAll(ss, base).get
    assert(after.count() == 3, "the torn rows were replaced, not unioned")
    assert(after.collect().toSet == before)
  }

  test("commitBatch names its jobs after the store and batch, then restores the caller's description") {
    val sc = ss.sparkContext
    val base = s"${tmp()}/ledger"
    var seen: String = null
    sc.setJobDescription("caller")
    try {
      VersionedStore.commitBatch(ss, base, 7L) { latest =>
        seen = sc.getLocalProperty("spark.job.description")
        goodSubs(latest)
      }
      assert(seen == "ledger b7")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }
}
