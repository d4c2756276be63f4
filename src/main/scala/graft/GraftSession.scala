package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every entrypoint, dev main
  * and the test session share this conf shape; callers add only their
  * core count and their own extra keys.
  *
  * The shared conf:
  *   - UTC session time zone, and `nanosAsLong` so `Tables.events` can
  *     read the fixture's TIMESTAMP(NANOS) column;
  *   - partition discovery on the driver up to 1024 dirs: at Spark's
  *     default of 32, every read of a 64-dir index table schedules a
  *     distributed listing job (~0.1 s each, and the removal protocols
  *     re-resolve such relations a dozen times per call); past 1024
  *     dirs the distributed listing still applies;
  *   - [[NoForkLocalFileSystem]] for `file://`: stock
  *     `RawLocalFileSystem` forks a `chmod` per created file or dir, a
  *     fixed cost on every small maintenance write and a hard failure
  *     under late-run memory/PID pressure; other schemes never route
  *     through it;
  *   - Spark UI off, and the driver log level.
  *
  * Every key is a default: a value already in the JVM's Spark conf
  * (`spark-submit --conf`, or a `-Dspark.*` system property) wins.
  * `cores = None` leaves the master to spark-submit (`S4Main`); `Some(n)`
  * runs `local[n]` with `n` shuffle partitions. Driver memory cannot be
  * set here — the JVM is already running; pass it at launch. */
object GraftSession {

  def apply(cores: Option[Int], extra: Seq[(String, String)] = Nil,
            logLevel: String = "WARN"): SparkSession = {
    val shared = Seq(
      "spark.app.name" -> "s4spark",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024",
      "spark.hadoop.fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
      "spark.ui.enabled" -> "false") ++
      cores.toSeq.flatMap(n => Seq("spark.master" -> s"local[$n]",
        "spark.sql.shuffle.partitions" -> n.toString))
    val conf = new SparkConf() // loads the spark.* system properties
    (shared ++ extra).foreach { case (k, v) => conf.setIfMissing(k, v) }
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
