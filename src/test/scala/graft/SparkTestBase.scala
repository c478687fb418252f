package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide session;
  * started by [[GraftSession]], the contract Verify runs under, at a fixed
  * 4 cores and logging at WARN). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.start(
    GraftSession.builder(cpus = 4)
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse"))

  /** Smallest driver-provided scale factor — fast enough for unit suites. */
  val sf: String = "/root/testdata/sf0.001"
}
