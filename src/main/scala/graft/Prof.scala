package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}
import graft.metrics.MetricsListener
import graft.pipeline.StageReport

/** Query profiler: runs each selected registered query cold, then warm,
  * and splits each run's wall time down the stack — Spark jobs (busy vs
  * driver gap), then the heaviest Spark stages (tasks, max/median task,
  * shuffle bytes, GC). Each run line also counts the generated classes
  * compiled during the run ([[MetricsListener.Window.compiles]]): a warm
  * run that compiles again missed Spark's codegen cache. Usage:
  * `sbt "runMain graft.Prof <sfDir> <cpus> <queries>"`, where `<queries>`
  * takes [[Bench.selectOnly]]'s syntax (`q103,q168_stream_netting`).
  *
  * Each run materializes every output column with a `noop` write (a
  * `count()` lets Catalyst prune the columns it does not need) and takes
  * its row count from an [[Observation]] on that same write. A query that
  * throws prints a `FAILED` line and the profile goes on. */
object Prof {
  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println("usage: graft.Prof <sfDir> <cpus> <queries>")
      sys.exit(2)
    }
    val Array(sfDir, cpus, spec) = args
    val names = Bench.selectOnly(Some(spec), SparkEntry.queries.keys.toSeq.sorted)
    if (names.isEmpty) {
      System.err.println(s"[prof] '$spec' matches no query")
      sys.exit(2)
    }
    val spark = GraftSession.local("graft-prof", cpus.toInt)
    val metrics = new MetricsListener(spark.sparkContext)
    for (name <- names; run <- Seq("cold", "warm")) {
      val from = metrics.mark()
      try {
        val obs = Observation()
        SparkEntry.queries(name)(spark, sfDir).observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        val rows = StageReport.awaitObserved(obs, s"$name $run").getAs[Long]("rows")
        report(s"$name $run", rows, metrics.window(from, metrics.mark()))
      } catch {
        case t: Throwable =>
          println(s"== $name $run FAILED ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}")
      }
    }
    spark.stop()
  }

  private def report(tag: String, rows: Long, w: MetricsListener.Window): Unit = {
    println(f"== $tag wall=${w.wallMs / 1e3}%.3fs rows=$rows jobs=${w.jobs.size} " +
      f"busy=${w.busyMs / 1e3}%.3fs gap=${w.gapMs / 1e3}%.3fs compiles=${w.compiles}")
    // Idle time before each job, from the window start, so the first job's
    // planning time shows; a job overlapping an earlier one shows 0.
    w.jobGaps.foreach { case (j, gapMs) =>
      val dur = if (j.endMs < 0) "  no end" else f"${(j.endMs - j.startMs) / 1e3}%7.3fs"
      println(f"   job ${j.id}%5d $dur gap=${gapMs / 1e3}%7.3fs ${j.desc.take(80)}")
    }
    w.stages.take(10).foreach { s =>
      println(f"   stage ${s.stage}%5d tasks=${s.tasks}%4d sum=${s.sumMs / 1e3}%7.2fs " +
        f"max=${s.maxMs / 1e3}%6.2fs med=${s.medMs / 1e3}%6.2fs " +
        f"shR=${s.shReadBytes / 1e6}%7.1fMB shW=${s.shWriteBytes / 1e6}%7.1fMB " +
        f"gc=${s.gcMs / 1e3}%5.2fs ${s.name}")
    }
  }
}
