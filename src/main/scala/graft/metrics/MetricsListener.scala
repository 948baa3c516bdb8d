package graft.metrics

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** The one metrics listener of the measurement drivers ([[graft.Bench]],
  * [[graft.Prof]]). It logs every Spark job (start, end, description),
  * every finished task (stage, duration, shuffle read/write, spill, GC)
  * and every stage's name, and answers WINDOWS taken between two
  * [[mark]]s. A mark also reads how many generated classes janino has
  * compiled so far, so a window tells how much code its actions compiled
  * rather than found in Spark's codegen cache.
  *
  * Fencing: events reach a listener asynchronously, so [[mark]] drains the
  * listener bus ([[BusDrain]]) before it reads the log positions. A window
  * holds the jobs that started between its marks and the tasks of the
  * stages those jobs submitted first. A stage belongs to the first job
  * that lists it, so a straggler task of an earlier action (a cancelled
  * broadcast, a killed speculative attempt) that lands after the next
  * mark stays out of the next window. */
final class MetricsListener(sc: SparkContext) extends SparkListener {
  import MetricsListener._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobPos = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageNames = mutable.Map.empty[Int, String]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val stages = e.stageInfos.sortBy(_.stageId)
    stages.foreach { s =>
      stageJob.getOrElseUpdate(s.stageId, e.jobId)
      stageNames.getOrElseUpdate(s.stageId, s.rddInfos.sortBy(_.id)
        .map(r => r.scope.map(_.name).getOrElse(r.name)).distinct.mkString(">").take(160))
    }
    // SQL jobs carry no description property; the final stage's name is
    // the action's call site ("count at Foo.scala:42").
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .orElse(stages.lastOption.map(_.name)).getOrElse("")
    jobPos(e.jobId) = jobs.size
    jobs += Job(e.jobId, desc, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobPos.get(e.jobId).foreach(i => jobs(i) = jobs(i).copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (info != null) synchronized {
      tasks += (if (m == null) Task(e.stageId, info.duration, 0L, 0L, 0L, 0L)
        else Task(e.stageId, info.duration, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
    }
  }

  /** A fence: the wall clock, then the log positions once every event
    * posted so far has been delivered, and the compile count. */
  def mark(): Mark = {
    val at = System.currentTimeMillis()
    BusDrain.drain(sc)
    synchronized(Mark(jobs.size, tasks.size, at, compileCount()))
  }

  /** Everything recorded between two marks of this listener. */
  def window(from: Mark, until: Mark): Window = synchronized {
    val js = jobs.slice(from.jobIdx, until.jobIdx).toVector
    val ids = js.map(_.id).toSet
    val ts = tasks.slice(from.taskIdx, until.taskIdx).filter(t => stageJob.get(t.stage).exists(ids)).toVector
    Window(from.atMs, until.atMs, js, ts, ts.map(_.stage).distinct.map(s => s -> stageNames.getOrElse(s, "?")).toMap,
      until.compiles - from.compiles)
  }
}

object MetricsListener {
  final case class Job(id: Int, desc: String, startMs: Long, endMs: Long = -1L)
  final case class Task(stage: Int, durMs: Long, shReadBytes: Long, shWriteBytes: Long,
                        spillBytes: Long, gcMs: Long)
  final case class Mark(jobIdx: Int, taskIdx: Int, atMs: Long, compiles: Long)

  /** Generated classes janino has compiled in this JVM so far: Spark
    * times every compile of a codegen-cache miss into one JVM-wide
    * histogram. In local mode the driver and the executors share the JVM
    * and the cache, so this counts both; on a cluster it counts the
    * driver's compiles only. */
  def compileCount(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  final case class StageStats(stage: Int, name: String, tasks: Int, sumMs: Long, maxMs: Long,
                              medMs: Long, shReadBytes: Long, shWriteBytes: Long, gcMs: Long)

  /** Milliseconds of `[fromMs, untilMs]` during which at least one job ran:
    * the union of the job intervals, clipped to the window. Jobs overlap
    * (AQE stages, concurrent writes), so the plain sum of job times can
    * exceed the wall; the union cannot. A job with no end seen yet adds
    * nothing. */
  def busyMs(jobs: Seq[Job], fromMs: Long, untilMs: Long): Long = {
    var total = 0L
    var covered = fromMs
    jobs.filter(_.endMs >= 0L).map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, untilMs)))
      .sortBy(_._1).foreach { case (s, e) =>
        val from = math.max(s, covered)
        if (e > from) { total += e - from; covered = e }
      }
    total
  }

  /** Run `body` with `label` as the job description of this thread's jobs
    * (AQE stage jobs and the listener's job log inherit it), restoring the
    * caller's description after. */
  def withJobDescription[T](sc: SparkContext, label: String)(body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  /** [[withJobDescription]] with `label` appended to the caller's
    * description (`<caller>/<label>`, or `label` alone when the caller set
    * none), so an operator's jobs inside a stream batch still name the
    * batch: `dedup b1/DupClusters`. */
  def withJobScope[T](sc: SparkContext, label: String)(body: => T): T =
    withJobDescription(sc,
      Option(sc.getLocalProperty("spark.job.description")).fold(label)(d => s"$d/$label"))(body)

  /** What happened between two marks. `compiles` is the [[compileCount]]
    * difference: generated classes compiled by ANY thread of the JVM in
    * the window (JVM-wide, see there), not only by the window's jobs. */
  final case class Window(fromMs: Long, untilMs: Long, jobs: Seq[Job], tasks: Seq[Task],
                          stageNames: Map[Int, String], compiles: Long) {
    def wallMs: Long = untilMs - fromMs
    def busyMs: Long = MetricsListener.busyMs(jobs, fromMs, untilMs)
    /** Wall time with no job in flight: planning, driver loops, file-system
      * round trips. Never negative. */
    def gapMs: Long = wallMs - busyMs
    /** Each job with the idle time just before it: the part of the span
      * from the window start and the jobs before it to its start in which
      * no job ran. Measured against the busy-interval union, as [[busyMs]]
      * is, so a job that starts while another still runs has a gap of 0,
      * never a negative one. A job with no end seen yet extends no
      * interval. */
    def jobGaps: Seq[(Job, Long)] = {
      var covered = fromMs
      jobs.sortBy(_.startMs).map { j =>
        val gap = math.max(0L, j.startMs - covered)
        covered = math.max(covered, j.endMs)
        j -> gap
      }
    }
    def shuffleReadBytes: Long = tasks.map(_.shReadBytes).sum
    def shuffleWriteBytes: Long = tasks.map(_.shWriteBytes).sum
    def spillBytes: Long = tasks.map(_.spillBytes).sum
    /** [[graft.Bench.taskSkew]] over this window's tasks. */
    def skew: (Long, Long, Long) = graft.Bench.taskSkew(tasks.map(t => (t.stage, t.durMs)))

    /** Per-stage task statistics, the heaviest (by summed task time) first. */
    def stages: Seq[StageStats] =
      tasks.groupBy(_.stage).toSeq.map { case (s, ts) =>
        val d = ts.map(_.durMs).sorted
        StageStats(s, stageNames.getOrElse(s, "?"), d.size, d.sum, d.last, d(d.size / 2),
          ts.map(_.shReadBytes).sum, ts.map(_.shWriteBytes).sum, ts.map(_.gcMs).sum)
      }.sortBy(st => (-st.sumMs, st.stage))
  }
}
