package graft.streaming

import graft.SparkSpec
import graft.metrics.MetricsListener
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Commit markers record each sub-store's schema, so store reads start no
  * Parquet schema-inference job; markers without one, and logs whose
  * schema evolved, keep the inferring (merging) read. */
class VersionedStoreSchemaSpec extends SparkSpec {
  import ss.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_schema_").toString

  /** The Spark jobs `body` starts, from a listener window around it. */
  private def jobsOf(body: => Unit): Seq[MetricsListener.Job] = {
    val metrics = new MetricsListener(ss.sparkContext)
    try {
      val from = metrics.mark()
      body
      metrics.window(from, metrics.mark()).jobs
    } finally ss.sparkContext.removeSparkListener(metrics)
  }

  private def marker(base: String, version: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, version, VersionedStore.Commit)), "UTF-8")

  /** One batch: a state sub (`ss.range` ids are non-nullable) and a log. */
  private def commit(base: String, id: Long): Unit =
    VersionedStore.commitBatch(ss, base, id) { _ =>
      Seq("state" -> ss.range(id + 1).toDF("n"),
        "log" -> Seq((id, s"v$id")).toDF("id", "v"))
    }: Unit

  test("a commit marker records each sub's schema as readers see it, every field nullable") {
    val base = tmp()
    commit(base, 0L)
    val lines = marker(base, "b000000000000").linesIterator.toSeq
    assert(lines.map(_.takeWhile(_ != '\t')) == Seq("state", "log"))
    val state = VersionedStore.readLatest(ss, base, "state").get
    assert(ss.range(1).schema.forall(!_.nullable), "the written frame's column is non-nullable")
    assert(lines.head.dropWhile(_ != '\t').tail == state.schema.json)
    assert(state.schema.forall(_.nullable))
  }

  test("readLatest and readLog start no Spark job, across a compaction too") {
    val base = tmp()
    (0L to 2L).foreach(commit(base, _))
    assert(VersionedStore.compactLogs(ss, base, Seq("log")))
    assert(marker(base, "c000000000001").startsWith("log\t"), "the compaction marker records its subs")
    var latest: DataFrame = null
    var log: DataFrame = null
    assert(jobsOf { latest = VersionedStore.readLatest(ss, base, "state").get }.isEmpty)
    assert(jobsOf { log = VersionedStore.readLog(ss, base, "log").get }.isEmpty)
    assert(latest.as[Long].collect().toSet == Set(0L, 1L, 2L))
    assert(log.as[(Long, String)].collect().toSet == Set((0L, "v0"), (1L, "v1"), (2L, "v2")))
  }

  test("a version whose marker is empty still reads, alone and in a log") {
    val base = tmp()
    commit(base, 0L)
    // the marker as written before markers recorded schemas
    val b0 = VersionedStore.versionDir(base, 0L)
    VersionedStore.fs(ss, b0).create(new Path(b0, VersionedStore.Commit), true).close()
    assert(marker(base, "b000000000000").isEmpty)
    assert(VersionedStore.readLatest(ss, base, "state").get.as[Long].collect().toSet == Set(0L))
    commit(base, 1L)
    assert(VersionedStore.readLog(ss, base, "log").get.as[(Long, String)].collect().toSet ==
      Set((0L, "v0"), (1L, "v1")))
    assert(VersionedStore.compactLogs(ss, base, Seq("log")))
    assert(VersionedStore.readLog(ss, base, "log").get.as[(Long, String)].collect().toSet ==
      Set((0L, "v0"), (1L, "v1")))
  }

  test("a log sub that gained a column in a later version reads merged, before and after compaction") {
    val base = tmp()
    VersionedStore.commitBatch(ss, base, 0L)(_ => Seq("log" -> Seq((0L, "a")).toDF("id", "v")))
    (1L to 2L).foreach { id =>
      VersionedStore.commitBatch(ss, base, id)(_ =>
        Seq("log" -> Seq((id, "b", id * 10)).toDF("id", "v", "extra")))
    }
    def rows = VersionedStore.readLog(ss, base, "log").get
      .select(col("id"), col("v"), col("extra")).as[(Long, String, Option[Long])].collect().toSet
    val expected = Set((0L, "a", None), (1L, "b", Some(10L)), (2L, "b", Some(20L)))
    assert(rows == expected)
    assert(VersionedStore.compactLogs(ss, base, Seq("log")))
    val recorded = marker(base, "c000000000001").linesIterator.toSeq
      .map(l => org.apache.spark.sql.types.DataType.fromJson(l.dropWhile(_ != '\t').tail))
    assert(recorded.collect { case s: StructType => s.fieldNames.toSeq } == Seq(Seq("id", "v", "extra")),
      "the compaction records the merged schema")
    assert(rows == expected)
  }

  test("applyBatch's returned released frame starts no job, on a replay too") {
    val base = s"${tmp()}/net"
    def pay = Seq((1L, 1L, "2024-01-01 00:00:00", 5.0), (1L, 2L, "2024-01-05 00:00:00", 3.0))
      .toDF("cust", "pid", "t0", "amt").select(col("cust"), col("pid"),
        col("t0").cast("timestamp").as("ts"), col("amt"))
    def apply0(): DataFrame = StreamNetting.applyBatch(pay, col("cust"), col("pid"), col("ts"),
      col("amt"), 86400L, base, 0L)
    var released: DataFrame = null
    val jobs = jobsOf { released = apply0() }
    assert(jobs.nonEmpty && jobs.forall(_.desc.startsWith("net b0")),
      s"every job is the batch's own: ${jobs.map(_.desc).distinct}")
    var replayed: DataFrame = null
    assert(jobsOf { replayed = apply0() }.isEmpty, "a replay reads back without a job")
    val rows = released.select("key", "id", "net_cents").as[(Long, Long, Long)].collect().toSet
    assert(rows == Set((1L, 1L, 500L)))
    assert(replayed.select("key", "id", "net_cents").as[(Long, Long, Long)].collect().toSet == rows)
  }
}
