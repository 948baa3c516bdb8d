package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local session for all suites (one JVM-wide session keeps the test
  * run fast; Test/fork gives a clean JVM per `sbt test`). Suites do
  * `import ss.implicits._` via the stable `ss` val. */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  val ss: SparkSession = SparkSpec.session

  /** The sf0.001 test tables, `~/testdata/sf0.001`. */
  val smallSfDir: String = s"${sys.props("user.home")}/testdata/sf0.001"

  /** Rows a CSV re-read of `dir` finds (header lines excluded); 0 when a
    * write of no rows left no part file to read. */
  def csvRowCount(dir: String, sep: String): Long = {
    val hasPart = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(dir)))(
      _.iterator().asScala.exists(_.getFileName.toString.endsWith(".csv")))
    if (hasPart) ss.read.option("header", "true").option("sep", sep).csv(dir).count() else 0L
  }
}
