package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run of one workload in a fresh JVM: set-up, one cold
  * iteration, then back-to-back warm iterations from this one thread until
  * the measuring time is spent. Writes `result.json` into the run
  * directory; `run.py` turns it into the benchmark's result line.
  *
  * Usage: `perfbench.Main <workload> <inputDir> <runDir> <seconds> <trace 0|1> <cores>
  * <table,...>`. The oracle SQL of the workload's checking queries goes to
  * `oracle.json` for the check. */
object Main {
  private val wallStart = System.nanoTime()

  def main(args: Array[String]): Unit = {
    val Array(workloadName, inputDir, runDir, secondsArg, traceArg, coresArg, tablesArg) = args
    val tables = tablesArg.split(",").toSeq
    val seconds = secondsArg.toDouble
    val tracing = traceArg == "1"
    val cores = coresArg.toInt
    val workload = Workloads.byName(workloadName)
    val out = new Result

    // set-up: session build, extension registration, schema read of the
    // generated inputs. The first set-up pays class loading; the others
    // rebuild the session in the same JVM. The run keeps the last one.
    def setup(t0: Long): SparkSession = {
      val spark = graft.GraftSession.local("perfbench", cores)
      graft.plans.GraftExtensions.register(spark)
      tables.foreach(t => graft.sources.Tables.load(spark, inputDir, t).schema)
      out.setup += (System.nanoTime() - t0) / 1e9
      spark
    }
    var spark = setup(wallStart)
    (1 until Main.SetupRepeats).foreach { _ =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = setup(System.nanoTime())
    }

    val trace = if (tracing) Some(new Trace) else None
    val plans = new PlanStats
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(plans)
    }
    val ctx = Ctx(spark, inputDir, new File(runDir).getAbsolutePath, cores)
    val oracle = workload.oracles.map(n => n -> graft.SparkEntry.oracleSql(n))
    Files.writeString(Paths.get(runDir, "oracle.json"),
      oracle.map { case (k, v) => Result.str(k) + ":" + Result.str(v) }.mkString("{", ",", "}"))

    val busy0 = graft.Bench.hostBusyCpuSecs()
    val own0 = graft.Bench.ownCpuSecs()
    val timed0 = System.nanoTime()
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]

    def iteration(i: Int): Option[Double] = {
      workload.reset(ctx)
      System.gc()
      trace.foreach { t =>
        // events of the previous iteration's traced extras land before the reset
        org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
        plans.reset()
        t.iteration = i
      }
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val it = Iteration(cold = i == 0)
      val ok = try { workload.run(ctx, it); true } catch {
        case e: Throwable =>
          out.errors += s"iteration $i: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] iteration $i failed: $e")
          e.printStackTrace()
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      trace.foreach { t =>
        org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
        if (i > 0) {
          windows += ((ms0, System.currentTimeMillis()))
          plans.snapshot().foreach { case (k, v) => t.count(k, v) }
          workload.traced(ctx, t)
        }
      }
      out.attempted += it.ops.size + it.failedOps
      out.failed += it.failedOps
      if (!ok) { out.attempted += 1; out.failed += 1 }
      if (i > 0) out.ops ++= it.ops
      it.spans.foreach { case (k, v) => trace.foreach(_.record(k, v)) }
      if (ok) Some(dt) else None
    }

    iteration(0).foreach(out.cold = _)
    val warm0 = System.nanoTime()
    var i = 1
    // past the measuring time, keep going only until one warm iteration
    // has succeeded, and give up after two failures
    while ((System.nanoTime() - warm0) / 1e9 < seconds || (out.warm.isEmpty && i <= 2)) {
      iteration(i).foreach(out.warm += _)
      i += 1
    }
    finish(spark, out, ctx, trace, windows.toSeq, busy0, own0, timed0)
  }

  val SetupRepeats = 3

  private def finish(spark: SparkSession, out: Result, ctx: Ctx, trace: Option[Trace],
                     windows: Seq[(Long, Long)], busy0: Double, own0: Double, timed0: Long): Unit = {
    val timedWall = (System.nanoTime() - timed0) / 1e9
    val busy = graft.Bench.hostBusyCpuSecs() - busy0
    val own = graft.Bench.ownCpuSecs() - own0
    out.host("ambient_cores") = if (busy0 < 0 || own0 < 0) -1.0 else math.max(0.0, busy - own) / timedWall
    out.host("timed_wall_s") = timedWall
    trace.foreach { t =>
      val perWindow = windows.map { case (a, b) => t.window(a, b, ctx.cores) }
      val keys = perWindow.flatMap(_.keys).distinct
      keys.foreach(k => out.layer(k) = Result.median(perWindow.map(_.getOrElse(k, 0.0))))
      // spans and counters: the median over the warm iterations
      (t.spans.toSeq ++ t.counters.toSeq).filter(_._1._1 > 0).groupBy(_._1._2).foreach {
        case (name, rows) => out.layer(name) = Result.median(rows.map(_._2))
      }
    }
    out.peakRssMb = Result.vmHwmMb()
    out.strings("spark_version") = spark.version
    out.strings("java_version") = System.getProperty("java.version")
    out.strings("java_vm") = System.getProperty("java.vm.name")
    out.host("xmx_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    out.host("cores") = ctx.cores
    out.host("nproc") = Runtime.getRuntime.availableProcessors()
    spark.stop()
    Files.writeString(Paths.get(ctx.runDir, "result.json"), out.json)
  }
}

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, input: String, runDir: String, cores: Int) {
  def path(rel: String): String = new File(runDir, rel).getAbsolutePath
  def span[T](it: Iteration, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally it.spans += name -> (System.nanoTime() - t0) / 1e9
  }
}

/** One iteration's operation timings and spans. The cold iteration writes
  * check copies of what warm iterations only materialize. */
final case class Iteration(cold: Boolean) {
  val ops: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val spans: mutable.ArrayBuffer[(String, Double)] = mutable.ArrayBuffer.empty
  var failedOps: Int = 0
  def op[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    ops += (System.nanoTime() - t0) / 1e9
    r
  }
}

/** Timed materialization: every output column of `df` is written. Warm
  * iterations discard the rows (`noop`); the cold iteration writes them
  * as parquet under `check/<name>` for the correctness check. */
object Sink {
  def materialize(ctx: Ctx, it: Iteration, name: String, df: DataFrame): Unit =
    if (it.cold) df.write.mode("overwrite").parquet(ctx.path(s"check/$name"))
    else df.write.format("noop").mode("overwrite").save()
}

/** Shape counts of the final (adaptive) physical plans of the executions
  * that ran since the last reset. */
final class PlanStats extends QueryExecutionListener {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
  import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

  private val seen = mutable.ArrayBuffer.empty[Map[String, Double]]

  def reset(): Unit = synchronized(seen.clear())
  def snapshot(): Map[String, Double] = synchronized {
    Seq("plan.exchanges", "plan.broadcast_joins", "plan.sort_merge_joins", "plan.nodes")
      .map(k => k -> seen.map(_.getOrElse(k, 0.0)).sum).toMap
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ns = nodes(qe.executedPlan)
    val m = Map(
      "plan.exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
      "plan.broadcast_joins" -> ns.count(_.isInstanceOf[BroadcastHashJoinExec]).toDouble,
      "plan.sort_merge_joins" -> ns.count(_.isInstanceOf[SortMergeJoinExec]).toDouble,
      "plan.nodes" -> ns.size.toDouble)
    synchronized(seen += m)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

final class Result {
  val setup: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var cold: Double = -1.0
  val warm: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val ops: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var attempted: Int = 0
  var failed: Int = 0
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var peakRssMb: Double = 0.0
  val host: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val strings: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def arr(xs: Seq[Double]) = xs.map(num).mkString("[", ",", "]")
    import Result.str
    def obj(m: Iterable[(String, String)]) = m.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    obj(Seq(
      "setup_s" -> arr(setup.toSeq), "cold_s" -> num(cold), "warm_s" -> arr(warm.toSeq),
      "ops_s" -> arr(ops.toSeq),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "errors" -> errors.map(str).mkString("[", ",", "]"),
      "peak_rss_mb" -> num(peakRssMb),
      "host" -> obj(host.map { case (k, v) => k -> num(v) }),
      "strings" -> obj(strings.map { case (k, v) => k -> str(v) }),
      "layer" -> obj(layer.map { case (k, v) => k -> num(v) })))
  }
}

object Result {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f): Unit)
      finally walk.close()
    }

  /** (files, bytes) under a directory. */
  def dirSize(p: Path): (Int, Long) =
    if (!Files.exists(p)) (0, 0L)
    else {
      val walk = Files.walk(p)
      try {
        val files = walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size, files.map(Files.size).sum)
      } finally walk.close()
    }
}
