package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{NearDupStream, S4Stream}

/** Dev-only micro-throughput harness for the STATEFUL streaming
  * operators (VERDICT r18 item 8: the `(flat)MapGroupsWithState` /
  * `transformWithState` family had never been measured — "untouched, no
  * channel flagged them" was unfalsifiable). Not a driver bench row
  * (the operators are spec-gated, not oracle rows); this records a
  * rows/sec number per operator so a future round can see a regression
  * or a win: `sbt "Test/runMain graft.StreamBench [nRows]"`.
  *
  * Protocol (the IngestBench recipe): inputs are generated OUTSIDE the
  * clock as JSON file-source dirs; per operator one UNTIMED 1/20-size
  * warm-up drain (JIT + codegen + state-store init), then one timed
  * `Trigger.AvailableNow` drain into the noop sink — source decode,
  * watermarking, state-store traffic and output all inside the clock.
  * Prints one JSON line (and writes it to
  * `plans/r19/stream_bench.json` when run from the repo root). */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(500000L)
    // transformWithState requires RocksDB (multiple column families);
    // run EVERY operator on it so the numbers share one store
    val spark = GraftSession(Some(32), logLevel = "ERROR", extra = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

    val base = java.nio.file.Files.createTempDirectory("streambench").toString

    // one wide JSON input reused by every operator: 1000 hot keys, event
    // time striding 1s per 1000 rows (sessions/windows close as the
    // watermark advances), ~90-byte records
    def gen(dir: String, n: Long): Unit = spark.range(n)
      .select(concat(
        lit("""{"id":"""), col("id") % (n / 4 + 1),
        lit(""","k":"k"""), col("id") % 1000,
        lit("""","user_id":"""), col("id") % 1000,
        lit(""","doc_id":"""), col("id"),
        lit(""","ts":"2024-01-01 """),
        format_string("%02d:%02d:%02d",
          ((col("id") / 3600000).cast("long")) % 24,
          ((col("id") / 60000).cast("long")) % 60,
          ((col("id") / 1000).cast("long")) % 60),
        lit("""","text":"tok"""), col("id") % 97,
        lit(""" tok"""), col("id") % 89, lit(""" tok"""), col("id") % 83,
        lit(""" pad pad pad"}""")).as("value"))
      .repartition(32).write.text(dir)
    gen(s"$base/in", nRows)
    gen(s"$base/warm", math.max(nRows / 20, 1000L))

    val schema = "id LONG, k STRING, user_id LONG, doc_id LONG, " +
      "ts TIMESTAMP, text STRING"
    def src(dir: String): DataFrame =
      spark.readStream.schema(schema).json(dir)
        .withColumn("value", to_json(struct(col("*"))))

    def drain(name: String, out: DataFrame): Unit = {
      val q = out.writeStream.format("noop")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"sb_$name").toString)
        .start()
      q.awaitTermination()
    }

    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "dedup_watermark" -> (df => S4Stream.dedupStream(df, "ts", Seq("id"),
        watermark = "1 hour")),
      "flush_window" -> (df => S4Stream.flushWindowStream(df, "ts")),
      "session_window" -> (df => S4Stream.sessionWindowStream(df, "user_id", "ts")),
      "size_flush_fmgws" -> (df =>
        S4Stream.sizeFlushStream(df, "k", thresholdBytes = 4096L).toDF()),
      "size_flush_tws" -> (df =>
        S4Stream.sizeFlushStreamTws(df, "k", thresholdBytes = 4096L).toDF()),
      "neardup_bands" -> (df => NearDupStream.bandFlags(df, "ts",
        watermark = "1 hour", horizonMs = 3600000L).toDF()))

    val rates = ops.map { case (name, op) =>
      drain(name, op(src(s"$base/warm"))) // untimed warm-up
      val t0 = System.nanoTime()
      drain(name, op(src(s"$base/in")))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[streambench] $name%-18s $sec%7.2fs  ${nRows / sec}%,.0f rows/s")
      name -> (sec, nRows / sec)
    }

    val line = rates.map { case (k, (sec, rps)) =>
      s""""$k":{"sec":${f"$sec%.2f"},"rows_per_sec":${f"$rps%.0f"}}"""
    }.mkString(
      s"""{"metric":"stream_throughput","rows":$nRows,"cpus":32,"ops":{""",
      ",", "}}")
    println(line)
    val out = java.nio.file.Paths.get("plans/r19/stream_bench.json")
    if (java.nio.file.Files.isDirectory(out.getParent))
      java.nio.file.Files.writeString(out, line)
    spark.stop()
  }
}
