package graft

import org.apache.spark.sql.functions._
import graft.streaming.S4Stream

/** Dev-only single-node ingest-throughput harness for the production S4
  * pipeline (file-dir source → line framing + 64 KiB cap → optional JSON
  * validate-drop → date-partitioned gzip text lake with the file sink's
  * exactly-once manifest). The reference ships benchmark harnesses
  * (`input/unix_test.go:40-56`, `river/jsonr_test.go:64-73`) but no
  * recorded numbers (BASELINE.md), so this records ours:
  * `sbt "Test/runMain graft.IngestBench [nLines] [nFiles]"`.
  *
  * Protocol: generate nLines JSON records (~44 bytes each) across nFiles
  * input files OUTSIDE the clock; per mode, first run one UNTIMED
  * warm-up drain over a 1/20-size input (JIT + codegen + file-source
  * init — without it the first-timed mode eats the whole JVM warm-up
  * and the mode comparison is an ordering artifact), then time
  * `S4Stream.run` with `Trigger.AvailableNow` (drain-and-stop, R4) from
  * start() to termination — ingest, validation, gzip write and sink
  * commit all inside the clock. Line mode and JSON mode are timed
  * separately, each into a fresh lake. Prints one summary line per
  * mode: lines/sec + MB/s + drained-lake line count (must equal
  * nLines).
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val nLines = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nFiles = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = GraftSession(Some(32), logLevel = "ERROR")
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("ingestbench").toString
    val inDir = s"$base/in"
    // ~44-byte records, the reference's mock shape ({"index":"N"},
    // test/tool.go:136-142) padded to a realistic log-line width
    def gen(dir: String, n: Long): Unit = spark.range(n)
      .select(concat(lit("""{"index":""""), col("id"),
        lit("""","pad":"xxxxxxxxxxxxxxxx"}""")).as("value"))
      .repartition(nFiles)
      .write.text(dir)
    gen(inDir, nLines)
    gen(s"$base/warm", math.max(nLines / 20, 1000L))
    val inBytes = new java.io.File(inDir).listFiles()
      .filter(_.getName.endsWith(".txt")).map(_.length()).sum

    Seq("line", "json").foreach { mode =>
      // untimed warm-up drain on the small input: JIT, codegen and
      // file-source init land here, not on whichever mode runs first
      S4Stream.run(spark, S4Stream.S4Config(
        inputDir = s"$base/warm", mode = mode, sink = "lake",
        lakeDir = s"$base/warmlake_$mode", availableNow = true))
        .awaitTermination()
      val lake = s"$base/lake_$mode"
      val t0 = System.nanoTime()
      val q = S4Stream.run(spark, S4Stream.S4Config(
        inputDir = inDir, mode = mode, sink = "lake", lakeDir = lake,
        availableNow = true))
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val out = spark.read.text(lake).count()
      println(f"[ingest] mode=$mode%-4s lines=$nLines files=$nFiles " +
        f"in_mb=${inBytes / 1e6}%.1f wall=$sec%.2fs " +
        f"rate=${nLines / sec}%.0f lines/s ${inBytes / 1e6 / sec}%.1f MB/s " +
        f"lake_lines=$out")
      require(out == nLines, s"lake must drain every line: $out != $nLines")
    }
    spark.stop()
  }
}
