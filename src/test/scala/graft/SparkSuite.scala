package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. One JVM runs every suite (Test/fork
  * := true forks once), so the session is getOrCreate'd and never
  * stopped by a suite.
  */
trait SparkSuite extends AnyFunSuite {
  // 4 cores, not the host's, so plan-shape assertions are
  // host-independent
  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .getOrCreate()
}
