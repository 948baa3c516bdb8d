package graft.metrics

import graft.SparkSpec
import graft.metrics.MetricsListener.{Job, Window}
import org.apache.spark.sql.functions.col

import scala.concurrent.Await
import scala.concurrent.duration._

class MetricsListenerSpec extends SparkSpec {

  private def window(from: Long, until: Long, jobs: Job*): Window =
    Window(from, until, jobs, Nil, Map.empty, 0L)

  test("busy is the union of overlapping jobs: never above wall, gap never negative") {
    val w = window(0L, 1000L, Job(1, "a", 0L, 600L), Job(2, "b", 100L, 700L), Job(3, "c", 200L, 900L))
    assert(w.jobs.map(j => j.endMs - j.startMs).sum == 1900L, "job times sum past the wall")
    assert(w.busyMs == 900L)
    assert(w.gapMs == 100L)
  }

  test("a job with no end is counted but adds no busy time") {
    val w = window(0L, 1000L, Job(1, "done", 100L, 300L), Job(2, "open", 200L))
    assert(w.jobs.size == 2)
    assert(w.busyMs == 200L)
    assert(w.gapMs == 800L)
  }

  test("a job that starts while another runs has a gap of 0, never a negative one") {
    val w = window(0L, 1000L, Job(1, "a", 100L, 600L), Job(2, "b", 300L, 900L), Job(3, "c", 950L, 980L))
    assert(w.jobGaps.map { case (j, gap) => j.id -> gap } == Seq(1 -> 100L, 2 -> 0L, 3 -> 50L))
    // the gaps before the jobs plus the idle tail are the window's gap
    assert(w.jobGaps.map(_._2).sum + (w.untilMs - 980L) == w.gapMs)
  }

  test("touching intervals add up, nested ones count once, and jobs clip to the window") {
    assert(MetricsListener.busyMs(Seq(Job(1, "", 0L, 100L), Job(2, "", 100L, 250L)), 0L, 1000L) == 250L)
    assert(MetricsListener.busyMs(Seq(Job(1, "", 0L, 500L), Job(2, "", 100L, 200L)), 0L, 1000L) == 500L)
    assert(MetricsListener.busyMs(Seq(Job(1, "", 100L, 200L), Job(2, "", 0L, 500L)), 0L, 1000L) == 500L)
    assert(MetricsListener.busyMs(Seq(Job(1, "", -50L, 80L), Job(2, "", 900L, 1200L)), 0L, 1000L) == 180L)
    assert(MetricsListener.busyMs(Nil, 0L, 1000L) == 0L)
  }

  test("a window around a new plan counts its compiles; a re-run of the same plan compiles nothing") {
    val metrics = new MetricsListener(ss.sparkContext)
    // a literal no other spec uses, so the first run's generated code is new to the JVM
    def run(): Unit = ss.range(0L, 10L, 1L, 1).select((col("id") * 982451653L + 7L).as("x")).collect(): Unit
    def compilesOf(body: => Unit): Long = {
      val from = metrics.mark()
      body
      metrics.window(from, metrics.mark()).compiles
    }
    try {
      assert(compilesOf(run()) >= 1L)
      assert(compilesOf(run()) == 0L, "the re-run found its classes in the codegen cache")
    } finally ss.sparkContext.removeSparkListener(metrics)
  }

  test("fenced windows hold their own action's jobs and shuffle bytes, not an earlier action's tail") {
    val sc = ss.sparkContext
    val metrics = new MetricsListener(sc)
    def shuffleAction(): Unit =
      ss.range(0L, 20000L, 1L, 4).groupBy((col("id") % 7).as("k")).count().collect()
    try {
      val m0 = metrics.mark()
      sc.setJobDescription("first")
      shuffleAction()
      // An async job started in the first window whose tasks finish in the
      // second: its task-end events land after the first window's end mark.
      sc.setJobDescription("tail")
      val tail = sc.parallelize(1 to 2, 2).map { x => Thread.sleep(1500L); x }.collectAsync()
      while (!metrics.window(m0, metrics.mark()).jobs.exists(_.desc == "tail")) Thread.sleep(20L)
      val m1 = metrics.mark()
      sc.setJobDescription("second")
      shuffleAction()
      Await.result(tail, 60.seconds)
      val m2 = metrics.mark()

      val w1 = metrics.window(m0, m1)
      val w2 = metrics.window(m1, m2)
      assert(w1.jobs.map(_.desc).toSet == Set("first", "tail"))
      assert(w1.jobs.filter(_.desc == "tail").forall(_.endMs > m1.atMs), "the tail job outlives the first window")
      assert(w2.jobs.nonEmpty && w2.jobs.forall(_.desc == "second"), w2.jobs.map(_.desc).toString)
      for (w <- Seq(w1, w2)) {
        assert(w.shuffleWriteBytes > 0L && w.shuffleReadBytes > 0L)
        assert(w.busyMs <= w.wallMs && w.gapMs >= 0L)
        assert(w.stages.map(_.tasks).sum == w.tasks.size)
      }
      assert(w1.tasks.map(_.stage).toSet.intersect(w2.tasks.map(_.stage).toSet).isEmpty)
      // The tail's two tasks ended inside the second window's log range but
      // belong to the first window's job: the second window leaves them out,
      // and only a window spanning both marks holds them.
      assert(metrics.window(m0, m2).tasks.size == w1.tasks.size + w2.tasks.size + 2)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(metrics)
    }
  }
}
