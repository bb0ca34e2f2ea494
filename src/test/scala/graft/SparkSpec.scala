package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (getOrCreate dedups across
  * suites in one JVM; Test/fork gives the JVM the add-opens flags).
  */
trait SparkSpec extends AnyFunSuite {
  /** The session Verify/Bench build, so specs audit the plans users get. */
  lazy val spark: SparkSession =
    GraftExtensions.builder(4)
      .appName("graft-test")
      // fresh warehouse per test JVM: managed-table specs (bucketing) must
      // not trip over locations orphaned by a previous run
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}
