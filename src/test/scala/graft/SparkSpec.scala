package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session (one per JVM — suites reuse it via getOrCreate),
  * built by the production factory so tests run under the production
  * config (AQE/skew, nanosAsLong, codegen cache, status-store
  * retention), at test size with the UI off. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val sf: String = "/root/testdata/sf0.001"
}
