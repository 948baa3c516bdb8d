package perfbench

import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Guards against hollow timings: a timed action must write every output
  * column of the frame it times, must never be a `count()` (which lets the
  * optimizer prune the columns it does not need), and q147's timed plan
  * must be its full plan rather than the `Aggregate <- LocalRelation` plan
  * its count collapses to. Runs the query_mix workload's own timed path on
  * the smallest test tables (`PERFBENCH_TEST_DATA`, default
  * `~/testdata/sf0.001`). */
class HollowTimingSpec extends AnyFunSuite {
  private val data = sys.env.getOrElse("PERFBENCH_TEST_DATA",
    sys.props("user.home") + "/testdata/sf0.001")
  private lazy val spark = graft.GraftSession.local("perfbench-test", 2)

  private val executions = mutable.ArrayBuffer.empty[QueryExecution]
  private val starts = mutable.ArrayBuffer.empty[SparkListenerSQLExecutionStart]
  private lazy val ctx = {
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executions.synchronized(executions += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => starts.synchronized(starts += s)
        case _ => ()
      }
    })
    Ctx(spark, data, Files.createTempDirectory("perfbench-test").toString, 2)
  }

  private def drain(): Unit = org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)

  /** The frame a write command writes, if `qe` is a write. */
  private def written(qe: QueryExecution): Option[LogicalPlan] =
    qe.logical.collectFirst {
      case v: V2WriteCommand => v.query
      case d: DataWritingCommand => d.query
    }

  private def timedWrites(name: String, cold: Boolean) = {
    val df = graft.SparkEntry.queries(name)(spark, data)
    drain()
    executions.synchronized(executions.clear())
    Sink.materialize(ctx, Iteration(cold), name, df)
    drain()
    (df, executions.synchronized(executions.toSeq).flatMap(qe => written(qe).map(qe -> _)))
  }

  for (name <- QueryMix.queries; cold <- Seq(false, true))
    test(s"$name: the ${if (cold) "cold" else "warm"} timed action writes every output column") {
      val (df, writes) = timedWrites(name, cold)
      assert(writes.size == 1, s"expected one write, saw ${writes.size}")
      val (qe, query) = writes.head
      assert(query.output.map(_.name) == df.columns.toSeq)
      if (name.startsWith("q147")) {
        val plan = qe.optimizedPlan
        assert(plan.collectLeaves().exists(!_.isInstanceOf[LocalRelation]),
          s"q147's timed plan reads no table:\n$plan")
      }
    }

  test("no action the benchmark itself times is a count()") {
    starts.synchronized(starts.clear())
    QueryMix.run(ctx, Iteration(cold = false))
    drain()
    val own = starts.synchronized(starts.toSeq).filter(s => Trace.moduleOf(s.details) == "bench")
    assert(own.size == QueryMix.queries.size)
    own.foreach(s => assert(!s.description.startsWith("count at"), s.description))
  }
}
