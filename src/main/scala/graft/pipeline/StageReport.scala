package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Per-stage audit counts, the reference's `ExecutionReporter`
  * (`/root/reference/src/logger_setup.py`) re-expressed without extra
  * actions: each stage registers an `observe` so row counts ride along
  * with whatever action eventually materializes that stage — no O(stages)
  * extra passes over 100 TB like calling `.count()` per stage would cost.
  *
  * Tracking is [[Observation]]-based, so a multi-action pipeline works
  * too: a stage observed upstream of a `localCheckpoint` fires during the
  * checkpoint's own materialization, later stages fire on the final
  * action, and [[collect]]/[[results]] read them all afterwards. (One
  * rule still applies per action: a tracked frame must not be referenced
  * twice within a single plan, or Spark rejects the duplicated metric —
  * checkpoint before fan-out, which iterative operators need anyway.) */
final class StageReport {
  private val stages = mutable.ArrayBuffer.empty[(String, Observation)]

  def track(name: String, df: DataFrame): DataFrame = {
    val obs = Observation(name)
    stages += name -> obs
    df.observe(obs, count(lit(1)).as("rows"))
  }

  /** Every tracked stage name, in tracking order. */
  def names: Seq[String] = stages.toSeq.map(_._1)

  /** Counts for every stage whose observing action has already run, in
    * tracking order. */
  def results: Seq[(String, Long)] =
    stages.toSeq.flatMap { case (n, o) =>
      // non-blocking read: only stages whose action already ran report
      o.future.value.flatMap(_.toOption).map(r => n -> r.getAs[Long]("rows"))
    }

  /** Wait (bounded) for observed metrics still in flight on the ASYNC SQL
    * listener bus. One shared deadline: completed futures return
    * instantly, and a stage that never materialized can burn the budget
    * at most once for the whole call, not once per stage. Call after the
    * last action whose stages you want, then read [[results]]. */
  def awaitAll(waitSecs: Int = 10): Unit = {
    import scala.concurrent.duration._
    val deadline = System.nanoTime() + waitSecs.seconds.toNanos
    stages.foreach { case (_, o) =>
      val remaining = (deadline - System.nanoTime()).nanos
      if (remaining > Duration.Zero)
        try scala.concurrent.Await.ready(o.future, remaining)
        catch { case _: java.util.concurrent.TimeoutException => }
    }
  }

  /** Run one Dataset action over `df` (so its observes fire — Observation
    * completion rides the SQL listener bus, which a bare `toRdd` action
    * would bypass), wait briefly for the async listener bus to deliver,
    * then return all available stage counts. Stages materialized by
    * earlier actions (e.g. upstream of a checkpoint) are included; a
    * stage that never ran is omitted rather than blocking forever. */
  def collect(df: DataFrame, waitSecs: Int = 10): Seq[(String, Long)] = {
    df.count()
    awaitAll(waitSecs)
    results
  }
}

object StageReport {

  /** The metrics row of an [[Observation]] whose action has already run,
    * waited for with a bounded deadline (delivery rides the asynchronous
    * SQL listener bus). A missing row throws instead of blocking, so a
    * caller that needs the value fails with a clear error rather than
    * hanging the way a bare `obs.get` would. */
  def awaitObserved(obs: Observation, what: String, waitSecs: Int = 10): Row =
    try scala.concurrent.Await.result(obs.future, scala.concurrent.duration.Duration(waitSecs, "s"))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"observed metrics for $what did not arrive within $waitSecs s")
    }
}
