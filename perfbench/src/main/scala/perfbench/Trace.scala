package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Everything the traced run records, held in memory until the run ends:
  * one listener over jobs, stages, tasks and SQL executions, plus the
  * benchmark's own spans around the public calls it drives.
  *
  * Module attribution: an SQL execution belongs to the module of the first
  * `graft.*` frame of its call site; a job outside any execution (a parquet
  * schema read, say) belongs to the first `graft.*` frame of its stage call
  * site. Actions issued by the benchmark itself have no `graft.*` frame and
  * land in `bench`. */
final class Trace extends SparkListener {
  import Trace.{Job, Task}

  private val execModule = mutable.Map.empty[Long, String]
  private val execStarts = mutable.ArrayBuffer.empty[Long]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageDone = mutable.ArrayBuffer.empty[Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  /** The iteration that spans and counters are recorded against. */
  var iteration = 0
  /** Spans recorded by the benchmark: (iteration, name) -> seconds, summed. */
  val spans: mutable.LinkedHashMap[(Int, String), Double] = mutable.LinkedHashMap.empty
  /** Counters recorded by the benchmark: (iteration, name) -> value. */
  val counters: mutable.LinkedHashMap[(Int, String), Double] = mutable.LinkedHashMap.empty

  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally record(name, (System.nanoTime() - t0) / 1e9)
  }
  def record(name: String, seconds: Double): Unit = spans.synchronized {
    spans((iteration, name)) = spans.getOrElse((iteration, name), 0.0) + seconds
  }
  def count(name: String, v: Double): Unit = counters.synchronized(counters((iteration, name)) = v)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
        execModule(e.executionId) = Trace.moduleOf(e.details)
        execStarts += e.time
      }
    case _: SparkListenerSQLExecutionEnd => ()
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = e.properties
    val execId = Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val module = execId.flatMap(execModule.get).getOrElse(
      Trace.moduleOf(e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")))
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, module)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageDone += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) synchronized {
      tasks += Task(e.stageId, info.launchTime, info.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Per-window aggregates over `[from, until)` in epoch milliseconds. */
  def window(from: Long, until: Long, cores: Int): Map[String, Double] = synchronized {
    val js = jobs.values.filter(j => j.start >= from && j.start < until).toSeq
    val ts = tasks.filter(t => t.launch >= from && t.launch < until).toSeq
    val wallMs = (until - from).toDouble
    // Sweep the job intervals: covered time is busy; each covered slice
    // goes to the module of the latest-started job running in it, so the
    // module self-times partition the busy time.
    val clipped = js.map(j => (math.max(j.start, from), math.min(if (j.end < 0) until else j.end, until), j))
      .filter { case (s, e, _) => e > s }
    val points = (clipped.flatMap { case (s, e, _) => Seq(s, e) } ++ Seq(from, until)).distinct.sorted
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var busyMs = 0.0
    points.sliding(2).foreach {
      case Seq(a, b) =>
        val live = clipped.filter { case (s, e, _) => s <= a && e >= b }
        if (live.nonEmpty) {
          busyMs += b - a
          self(live.maxBy { case (s, _, j) => (s, j.id) }._3.module) += b - a
        }
      case _ => ()
    }
    val runS = ts.map(_.runMs).sum / 1e3
    val (maxMs, _, peerMs) = graft.Bench.taskSkew(ts.map(t => (t.stage, t.durMs)))
    val base = Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stageDone.count(t => t >= from && t < until).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.sql_executions" -> execStarts.count(t => t >= from && t < until).toDouble,
      "spark.busy_s" -> busyMs / 1e3,
      "spark.gap_s" -> (wallMs - busyMs) / 1e3,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.slot_util" -> (if (busyMs > 0) runS / (busyMs / 1e3 * cores) else 0.0),
      "spark.max_task_s" -> maxMs / 1e3,
      "spark.skew" -> (if (peerMs > 0) maxMs.toDouble / peerMs else if (maxMs > 0) maxMs.toDouble else 0.0),
      "spark.shuffle_read_mb" -> ts.map(_.shReadBytes).sum / 1e6,
      "spark.shuffle_write_mb" -> ts.map(_.shWriteBytes).sum / 1e6,
      "spark.spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
      "spark.input_mb" -> ts.map(_.inBytes).sum / 1e6,
      "spark.output_mb" -> ts.map(_.outBytes).sum / 1e6,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "trace.wall_s" -> wallMs / 1e3)
    val perModule = Trace.Modules.flatMap { m =>
      Seq(s"$m.exec_s" -> self(m) / 1e3, s"$m.jobs" -> js.count(_.module == m).toDouble)
    }
    val unattributed = self.keys.filterNot(Trace.Modules.contains).map(self).sum
    val selfSum = Trace.Modules.map(self).sum + unattributed
    base ++ perModule ++ Map(
      "trace.other_s" -> unattributed / 1e3,
      "trace.reconcile_err" ->
        (if (wallMs > 0) math.abs(selfSum + (wallMs - busyMs) - wallMs) / wallMs else 0.0))
  }
}

object Trace {
  final case class Job(id: Int, start: Long, var end: Long, module: String)
  final case class Task(stage: Int, launch: Long, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        inBytes: Long, outBytes: Long, shReadBytes: Long, shWriteBytes: Long,
                        spillBytes: Long)

  val Modules: Seq[String] =
    Seq("sources", "operators", "pipeline", "sinks", "streaming", "queries", "entry", "bench")

  private val Packages = Set("sources", "functions", "plans", "operators", "pipeline", "sinks",
    "state", "streaming", "queries", "tools")

  /** Module of the first `graft.*` frame of a long-form call site. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => "bench"
      case Some(frame) =>
        val parts = frame.takeWhile(_ != '(').split('.')
        if (parts.length > 2 && Packages.contains(parts(1))) parts(1)
        else if (parts(1).startsWith("Run")) "entry"
        else if (parts(1).startsWith("SparkEntry") || parts(1).startsWith("Queries")) "queries"
        else "other"
    }
}
