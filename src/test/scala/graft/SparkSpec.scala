package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites — the entrypoints' conf
  * ([[GraftSession]]) at 4 cores, with its own warehouse dir. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(Some(4), logLevel = "ERROR", extra = Seq(
    "spark.sql.warehouse.dir" -> java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
