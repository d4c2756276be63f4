package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites — same conf shape as the
  * driver harness (UTC, small shuffle partitions, nanos legacy read). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // r19 (VERDICT r18 item 1): the r18 driver suite died ~36k stages
      // in when RawLocalFileSystem.setPermission could no longer FORK
      // chmod for a .spark-staging dir. The no-fork local FS applies
      // permissions in-process via NIO — nothing left to fail under
      // late-suite memory/PID pressure, and every local write gets
      // cheaper as a side effect.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.NoForkLocalFileSystem].getName)
      // the production listing threshold (Bench, Verify, RunQuery): at
      // Spark's default of 32, every read of a 64-bucket index table
      // schedules a distributed file-listing job
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
