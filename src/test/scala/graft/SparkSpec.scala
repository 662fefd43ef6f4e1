package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one local JVM session, UTC, AQE on. */
object TestSpark {
  lazy val spark: SparkSession = Harness.session("local[4]", "graft-test", 4,
    "WARN", extra = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
  /** Fixture root — overridable so the suite runs on hosts with a
    * different testdata layout. */
  val root: String = sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata")
  val sf: String = s"$root/sf0.001"
  /** The correctness-gate scale, for tests whose physical effect only
    * manifests past sf0.001 (e.g. the q110 AQE skew split). */
  val sf01: String = s"$root/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
}
