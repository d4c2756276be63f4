package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the tracer, its generated
  * inputs and parameters, a scratch dir and the measurement length. */
final case class Ctx(spark: SparkSession, tracer: Tracer, input: Path,
                     scratch: Path, seconds: Double,
                     params: java.util.Properties) {
  def param(k: String): String =
    Option(params.getProperty(k)).getOrElse(sys.error(s"missing parameter $k"))
  def int(k: String): Int = param(k).toInt
  def dbl(k: String): Double = param(k).toDouble
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)
  def dir(name: String): String = scratch.resolve(name).toString
}

/** Harness entry point: runs one workload over inputs that `gen.py`
  * wrote and leaves its raw measurements in `raw.json` for `run.py`.
  *
  * {{{
  * perfbench.Main --workload <name> --input <dir> --scratch <dir>
  *                --seconds <s> --trace <0|1> --cores <n>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val input = Paths.get(a("input")).toAbsolutePath
    val scratch = Paths.get(a("scratch")).toAbsolutePath
    Files.createDirectories(scratch)
    val params = new java.util.Properties()
    val in = Files.newInputStream(input.resolve("params.properties"))
    try params.load(in) finally in.close()

    val spark = session(cores, scratch)
    val tracer = new Tracer(spark.sparkContext, a("trace") == "1")
    val ctx = Ctx(spark, tracer, input, scratch, a("seconds").toDouble, params)
    val result = a("workload") match {
      case "s4_ingest" => IngestRun.run(ctx)
      case "corpus_dedup" => DedupRun.run(ctx)
      case "index_serve_takedown" => IndexRun.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val raw = result ++ Map(
      "peak_rss_mb" -> peakRssMb(),
      "cores" -> cores,
      "trace" -> tracer.report())
    val json = org.json4s.jackson.Serialization.write(raw)(org.json4s.DefaultFormats)
    Files.write(scratch.resolve("raw.json"), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The engine's production session shape (see `graft.Bench`), sized
    * to the machine, with every on-disk scratch location inside the
    * run's own dir. */
  def session(cores: Int, scratch: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.hadoop.fs.file.impl", classOf[graft.NoForkLocalFileSystem].getName)
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", scratch.resolve("hadoop-tmp").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status")
    try lines.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally lines.close()
  }

  /** Wall seconds of `f`, with its result. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }
}
