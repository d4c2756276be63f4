package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{Rtbf, RtbfTargets}
import graft.streaming.S4Stream
import graft.streaming.S4Stream.S4Config

/** Streaming-runtime smoke tests: the AvailableNow round trip the
  * reference covers with `river/liner_test.go:54-63` and the `mock`
  * subcommand (`main.go:142-166`), plus the watermarked stateful ops. */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private def writeLines(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.asJava)

  private def lakeFiles(lake: Path): Seq[Path] =
    Files.walk(lake).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(f => lake.relativize(f).iterator().asScala.exists { seg =>
        val s = seg.toString; s.startsWith("_") || s.startsWith(".")
      }).toSeq

  /** The takedown loop's deployment over one ingest loop's lake. */
  private def rtbfTargets(family: String, idx: String, lake: Path): RtbfTargets = {
    val t = RtbfTargets(lake.toString, Seq("batch"))
    family match {
      case "text" => t.copy(textIndex = Some(idx))
      case "term" => t.copy(termIndex = Some(idx))
      case "cluster" => t.copy(clusterIndex = Some(idx))
      case "vector" => t.copy(idCol = "vec_id", textCol = "embedding",
        vectorIndex = Some(idx), vecLakeDir = Some(lake.toString),
        vecLakePartitionCols = Seq("batch"))
    }
  }

  /** Spark jobs started by `body`, counted by a listener over the job
    * group `body` runs under; a sentinel job in a second group flushes
    * the listener queue before the count is read. */
  private def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => n.incrementAndGet()
          case Some(g) if g == s"$group-flush" => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "listener flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      n.get
    } finally sc.removeSparkListener(listener)
  }

  /** The run key of the one purge recorded under `lake` (its batch 0). */
  private def purgeRunKey(lake: Path): String = Rtbf
    .status(spark.sparkContext.hadoopConfiguration, lake.toString)
    .head.tag.stripPrefix("ck").stripSuffix("_b0")

  test("line mode: AvailableNow round trip to gzip'd date-partitioned lake") {
    val in = tmp("s4in"); val lake = tmp("s4lake"); val ck = tmp("s4ck")
    val lines = (1 to 100).map(i => s"benchmaking: $i") // test/tool.go:87 shape
    writeLines(in, "a.txt", lines.take(60))
    writeLines(in, "b.txt", lines.drop(60))

    val q = S4Stream.run(spark, S4Config(
      inputDir = in.toString, mode = "line", sink = "lake",
      lakeDir = lake.toString, checkpointDir = ck.toString,
      availableNow = true))
    q.awaitTermination()

    val files = lakeFiles(lake)
    assert(files.nonEmpty)
    assert(files.forall(_.toString.contains("year=")), s"not date-partitioned: $files")
    assert(files.forall(f => f.toString.matches(".*year=\\d{4}/month=\\d{1,2}/day=\\d{1,2}/.*")))
    assert(files.forall(_.getFileName.toString.endsWith(".txt.gz")), "objects must be gzip'd")
    val back = spark.read.text(lake.toString).collect().map(_.getString(0)).toSeq
    assert(back.sorted === lines.sorted) // per-batch set semantics (SURVEY §1)
  }

  test("cleanSource retires processed files from the watched listing") {
    // VERDICT r10 item 4: without retention, the seen-files log and the
    // per-trigger listing grow without bound on an ever-growing input
    // prefix. cleanSource=archive moves committed files OUTSIDE the
    // watched glob; maxFileAge bounds the listing horizon for files
    // that escape cleaning. maxFilesPerTrigger=1 forces multiple
    // batches because the engine cleans a batch's files when a LATER
    // batch commits — the final batch's file may legitimately remain.
    val in = tmp("s4clin"); val lake = tmp("s4cllake"); val ck = tmp("s4clck")
    val arch = tmp("s4clarch")
    writeLines(in, "a.txt", Seq("r1", "r2"))
    writeLines(in, "b.txt", Seq("r3"))
    writeLines(in, "c.txt", Seq("r4"))
    // synchronous cleaner: the default async thread would race the
    // post-termination assertions
    spark.conf.set("spark.sql.streaming.fileSource.cleaner.numThreads", "0")
    try {
      val q = S4Stream.run(spark, S4Config(
        inputDir = in.toString, mode = "line", sink = "lake",
        lakeDir = lake.toString, checkpointDir = ck.toString,
        availableNow = true, maxFilesPerTrigger = Some(1),
        cleanSource = "archive", sourceArchiveDir = arch.toString,
        maxFileAge = Some("7d")))
      q.awaitTermination()
    } finally
      spark.conf.unset("spark.sql.streaming.fileSource.cleaner.numThreads")
    // every record landed exactly once...
    val back = spark.read.text(lake.toString).collect().map(_.getString(0))
    assert(back.sorted === Array("r1", "r2", "r3", "r4"))
    // ...and committed input files left the watched directory for the
    // archive (at least the first two of three single-file batches)
    import scala.jdk.CollectionConverters._
    val remaining = Files.list(in).iterator().asScala
      .filter(_.toString.endsWith(".txt")).map(_.getFileName.toString).toSet
    val archived = Files.walk(arch).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".txt"))
      .map(_.getFileName.toString).toSet
    assert(archived.size >= 2,
      s"committed files must be archived: archived=$archived remaining=$remaining")
    assert(remaining.intersect(archived).isEmpty,
      s"archived files must LEAVE the watched dir: $remaining vs $archived")
    assert((remaining ++ archived) == Set("a.txt", "b.txt", "c.txt"),
      s"no file may be lost: $remaining + $archived")
  }

  test("parquet lake format writes the same records columnar") {
    val in = tmp("s4qin"); val lake = tmp("s4qlake"); val ck = tmp("s4qck")
    writeLines(in, "p.txt", Seq("rec-a", "rec-b", "rec-c"))
    val q = S4Stream.run(spark, S4Config(
      inputDir = in.toString, mode = "line", sink = "lake",
      lakeDir = lake.toString, checkpointDir = ck.toString,
      availableNow = true, lakeFormat = "parquet"))
    q.awaitTermination()
    val back = spark.read.parquet(lake.toString)
    assert(back.columns.toSet === Set("value", "year", "month", "day"))
    assert(back.select("value").collect().map(_.getString(0)).sorted
      === Array("rec-a", "rec-b", "rec-c"))
    // observed metrics reported per batch (R16's push logging analog)
    val obs = q.lastProgress.observedMetrics.get("s4")
    assert(obs.getAs[Long]("n_records") === 3L)
    assert(obs.getAs[Long]("n_bytes") === 15L)
  }

  test("checkpoint gives exactly-once across restarts (S4 was at-most-once)") {
    val in = tmp("s4rin"); val lake = tmp("s4rlake"); val ck = tmp("s4rck")
    val cfg = S4Config(
      inputDir = in.toString, mode = "line", sink = "lake",
      lakeDir = lake.toString, checkpointDir = ck.toString,
      availableNow = true)

    writeLines(in, "a.txt", Seq("r1", "r2", "r3"))
    S4Stream.run(spark, cfg).awaitTermination()

    // restart from the same checkpoint with one new file: the first
    // batch's offsets are committed, so its records must NOT reappear
    writeLines(in, "b.txt", Seq("r4"))
    S4Stream.run(spark, cfg).awaitTermination()

    val back = spark.read.text(lake.toString).collect().map(_.getString(0)).toSeq
    assert(back.sorted === Seq("r1", "r2", "r3", "r4"),
      s"expected each record exactly once, got $back")
  }

  test("foreach sink (R14): batchId-keyed output, re-push is idempotent") {
    val in = tmp("s4fin"); val lake = tmp("s4flake"); val ck = tmp("s4fck")
    writeLines(in, "f.txt", Seq("f1", "f2"))
    val q = S4Stream.run(spark, S4Config(
      inputDir = in.toString, mode = "line", sink = "foreach",
      lakeDir = lake.toString, checkpointDir = ck.toString,
      availableNow = true))
    q.awaitTermination()
    val back = spark.read.text(lake.toString)
    assert(back.select("value").collect().map(_.getString(0)).sorted
      === Array("f1", "f2"))
    // at-least-once execution: simulate the batch re-running after a
    // failure between write and offset commit — same batchId, so the
    // overwrite must leave the lake content unchanged, not doubled
    S4Stream.pushBatch(spark.read.text(in.toString), lake.toString,
      format = "text", batchId = 0L)
    assert(spark.read.text(lake.toString).count() === 2L,
      "re-pushed batch must overwrite its own batch=0 subtree")
  }

  test("json mode: invalid records dropped, stream continues (R6)") {
    val in = tmp("s4jin"); val lake = tmp("s4jlake"); val ck = tmp("s4jck")
    val valid = Seq("""{"message": "hello"}""", """{"message": "world"}""", """{"k": 1}""")
    val invalid = Seq("not json at all", """{"unclosed": """)
    writeLines(in, "mixed.json", scala.util.Random.shuffle(valid ++ invalid))

    val q = S4Stream.run(spark, S4Config(
      inputDir = in.toString, mode = "json", sink = "lake",
      lakeDir = lake.toString, checkpointDir = ck.toString,
      availableNow = true))
    q.awaitTermination()

    val back = spark.read.text(lake.toString).collect().map(_.getString(0)).toSeq
    assert(back.sorted === valid.sorted)
  }

  test("oversized records are dropped at the 64 KiB cap (R3 record model)") {
    val in = tmp("s4xin"); val lake = tmp("s4xlake"); val ck = tmp("s4xck")
    val big = "x" * (64 * 1024 + 1)
    val edge = "y" * (64 * 1024) // exactly at the cap: kept
    writeLines(in, "x.txt", Seq("small", big, edge))
    val q = S4Stream.run(spark, S4Config(
      inputDir = in.toString, mode = "line", sink = "lake",
      lakeDir = lake.toString, checkpointDir = ck.toString,
      availableNow = true))
    q.awaitTermination()
    val back = spark.read.text(lake.toString).collect().map(_.getString(0))
    assert(back.map(_.length).sorted.toSeq === Seq(5, 64 * 1024))
  }

  test("lake partition layout prunes downstream reads (R12's purpose)") {
    val lake = tmp("s4plake")
    // simulate two days of flushes in the lake layout
    import spark.implicits._
    Seq(("d1a", 2024, 1, 1), ("d1b", 2024, 1, 1), ("d2a", 2024, 1, 2))
      .toDF("value", "year", "month", "day")
      .write.partitionBy("year", "month", "day")
      .option("compression", "gzip").mode("append").text(lake.toString)
    val read = spark.read.text(lake.toString) // partition cols inferred
    val pruned = read.filter(col("day") === 1)
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("(day"),
      s"day filter must prune partitions, not scan them:\n$plan")
    assert(pruned.count() === 2)
  }

  test("console sink mode runs (R13)") {
    val in = tmp("s4cin"); val ck = tmp("s4cck")
    writeLines(in, "c.txt", Seq("hello", "world"))
    val q = S4Stream.run(spark, S4Config(
      inputDir = in.toString, mode = "line", sink = "console",
      checkpointDir = ck.toString, availableNow = true))
    q.awaitTermination()
    assert(!q.isActive)
  }

  test("mock rate source emits {\"index\":\"N\"} records (R17)") {
    val q = S4Stream.mockSource(spark, rowsPerSecond = 50)
      .writeStream.format("memory").queryName("mock_out")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        n = spark.table("mock_out").count()
      }
      assert(n > 0, "rate source produced nothing in 20s")
      val rows = spark.table("mock_out")
        .select(get_json_object(col("value"), "$.index").cast("long").isNotNull)
        .collect()
      assert(rows.forall(_.getBoolean(0)), "every record must be {\"index\":\"N\"}")
    } finally q.stop()
  }

  test("socket source streams line-framed records (R1 client analog)") {
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val writer = new Thread(() => {
      try {
        val conn = server.accept()
        val out = new java.io.PrintWriter(conn.getOutputStream, true)
        // the reference echo fixture: 5x hello then world (test/tool.go:16-27)
        for (_ <- 1 to 20) {
          (1 to 5).foreach(_ => out.println("""{"message": "hello"}"""))
          out.println("""{"message": "world"}""")
          Thread.sleep(200)
        }
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true); writer.start()

    val src = S4Stream.source(spark, S4Config(
      inputDir = "", inputKind = "socket", port = port))
    val q = S4Stream.validated(src, "json")
      .writeStream.format("memory").queryName("sock_out")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      var n = 0L
      while (n < 6 && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        n = spark.table("sock_out").count()
      }
      assert(n >= 6, s"expected >=6 socket records, got $n")
      val msgs = spark.table("sock_out")
        .select(get_json_object(col("value"), "$.message"))
        .collect().map(_.getString(0)).toSet
      assert(msgs === Set("hello", "world"))
    } finally { q.stop(); server.close() }
  }

  test("unix-domain-socket source streams line-framed records (input/unix_test.go echo)") {
    import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
    import java.nio.channels.ServerSocketChannel
    import java.nio.charset.StandardCharsets
    // the reference's UnixTestServer shape: bind a domain socket, accept
    // one client, write the hello×5 + world echo fixture repeatedly
    val sockPath = tmp("uds").resolve("test.sock")
    val server = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
    server.bind(UnixDomainSocketAddress.of(sockPath.toString))
    val writer = new Thread(() => {
      try {
        val conn = server.accept()
        for (_ <- 1 to 40) {
          val block = ("""{"message": "hello"}""" + "\n") * 5 +
            """{"message": "world"}""" + "\n"
          conn.write(java.nio.ByteBuffer.wrap(
            block.getBytes(StandardCharsets.UTF_8)))
          Thread.sleep(150)
        }
        conn.close()
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true); writer.start()

    val src = S4Stream.source(spark, S4Config(
      inputDir = "", inputKind = "unix", socketPath = sockPath.toString))
    val q = S4Stream.validated(src, "json")
      .writeStream.format("memory").queryName("uds_out")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      var n = 0L
      while (n < 6 && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        n = spark.table("uds_out").count()
      }
      assert(n >= 6, s"expected >=6 unix-socket records, got $n")
      val msgs = spark.table("uds_out")
        .select(get_json_object(col("value"), "$.message"))
        .collect().map(_.getString(0)).toSet
      assert(msgs === Set("hello", "world"))
    } finally { q.stop(); server.close() }
  }

  test("unix-domain-socket LISTEN mode accepts sequential clients (input/unix.go ListenUnixSocket)") {
    import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
    import java.nio.channels.SocketChannel
    import java.nio.charset.StandardCharsets
    val sockPath = tmp("udsl").resolve("listen.sock")
    // the SOURCE binds; this client dials it — twice, sequentially, to
    // exercise the reference's accept-next-client loop
    val writer = new Thread(() => {
      try {
        def sendOnce(lines: Seq[String]): Unit = {
          var conn: SocketChannel = null
          val deadline = System.currentTimeMillis() + 15000
          while (conn == null && System.currentTimeMillis() < deadline) {
            try {
              conn = SocketChannel.open(StandardProtocolFamily.UNIX)
              conn.connect(UnixDomainSocketAddress.of(sockPath.toString))
            } catch { case _: Throwable => conn = null; Thread.sleep(100) }
          }
          lines.foreach { l =>
            conn.write(java.nio.ByteBuffer.wrap((l + "\n").getBytes(StandardCharsets.UTF_8)))
          }
          conn.close()
        }
        sendOnce(Seq("""{"message": "client1"}""", """{"message": "hello"}"""))
        Thread.sleep(300) // let the accept loop come back around
        sendOnce(Seq("""{"message": "client2"}"""))
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true); writer.start()

    val src = S4Stream.source(spark, S4Config(
      inputDir = "", inputKind = "unix", socketPath = sockPath.toString,
      socketMode = "listen"))
    val q = S4Stream.validated(src, "json")
      .writeStream.format("memory").queryName("udsl_out")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      var msgs = Set.empty[String]
      while (!msgs.contains("client2") && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        msgs = spark.table("udsl_out")
          .select(get_json_object(col("value"), "$.message"))
          .collect().map(_.getString(0)).toSet
      }
      assert(msgs == Set("client1", "hello", "client2"),
        s"expected records from both sequential clients, got $msgs")
    } finally q.stop()
  }

  test("CLI flags drive a socket-to-parquet-lake round trip end to end") {
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val lake = tmp("s4cliout"); val ck = tmp("s4click")
    val writer = new Thread(() => {
      try {
        val conn = server.accept()
        val out = new java.io.PrintWriter(conn.getOutputStream, true)
        for (_ <- 1 to 40) {
          out.println("""{"message": "via-cli"}""")
          out.println("not json")
          Thread.sleep(100)
        }
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true); writer.start()
    val (cmd, flags) = graft.streaming.S4Main.parse(Array(
      "run", "--input-kind", "socket", "--port", port.toString,
      "--mode", "json", "--lake", lake.toString, "--checkpoint", ck.toString,
      "--flush", "300 milliseconds", "--lake-format", "parquet",
      "--max-record-bytes", "1024"))
    assert(cmd === "run")
    val q = S4Stream.run(spark, graft.streaming.S4Main.configFrom(flags))
    try {
      val deadline = System.currentTimeMillis() + 20000
      var n = 0L
      while (n < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(400)
        n = try spark.read.parquet(lake.toString).count() catch { case _: Throwable => 0L }
      }
      assert(n >= 3, s"expected >=3 lake records via the CLI path, got $n")
      val vals = spark.read.parquet(lake.toString)
        .select(get_json_object(col("value"), "$.message"))
        .collect().map(_.getString(0)).toSet
      assert(vals === Set("via-cli"), "json validation must drop the non-json lines")
    } finally { q.stop(); server.close() }
  }

  test("stateful dedup within watermark drops in-horizon duplicates") {
    val in = tmp("s4din"); val ck = tmp("s4dck")
    val lines = Seq(
      """{"id": 1, "ts": "2024-01-01 00:00:01"}""",
      """{"id": 2, "ts": "2024-01-01 00:00:02"}""",
      """{"id": 1, "ts": "2024-01-01 00:00:03"}""",
      """{"id": 3, "ts": "2024-01-01 00:00:04"}""",
      """{"id": 2, "ts": "2024-01-01 00:00:05"}""")
    writeLines(in, "d.json", lines)
    val src = spark.readStream.schema("id LONG, ts TIMESTAMP").json(in.toString)
    val q = S4Stream.dedupStream(src, "ts", Seq("id"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
      .start()
    q.awaitTermination()
    val ids = spark.table("dedup_out").select("id").collect().map(_.getLong(0)).sorted
    assert(ids === Array(1L, 2L, 3L))
  }

  test("curation stream: quality gates + cross-run exact dedup into a partitioned lake") {
    val in = tmp("s4cin"); val lake = tmp("s4clake"); val ck = tmp("s4cck")
    def run(): Unit = {
      val src = spark.readStream
        .schema("doc_id LONG, text STRING, source STRING, ts TIMESTAMP")
        .json(in.toString)
      val q = S4Stream.curationStream(src, "ts", minTokens = 3, minUniqRatio = 0.5,
          watermark = "1 hour")
        .writeStream.format("parquet").partitionBy("source")
        .option("path", lake.toString)
        .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
        .start()
      q.awaitTermination()
    }
    writeLines(in, "b1.json", Seq(
      """{"doc_id": 1, "text": "alpha beta gamma delta", "source": "web", "ts": "2024-01-01 00:00:01"}""",
      """{"doc_id": 2, "text": "spam spam spam spam spam spam", "source": "web", "ts": "2024-01-01 00:00:02"}""",
      """{"doc_id": 3, "text": "too short", "source": "web", "ts": "2024-01-01 00:00:03"}"""))
    run()
    // second run, same checkpoint: doc 4 is an exact re-crawl of doc 1's
    // text from a different source — the dedup state must survive the
    // restart and drop it; doc 5 is novel and must pass
    writeLines(in, "b2.json", Seq(
      """{"doc_id": 4, "text": "alpha beta gamma delta", "source": "mirror", "ts": "2024-01-01 00:00:10"}""",
      """{"doc_id": 5, "text": "epsilon zeta eta theta", "source": "web", "ts": "2024-01-01 00:00:11"}"""))
    run()
    val kept = spark.read.parquet(lake.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 5L),
      s"quality-failing docs 2/3 and cross-run dup 4 must be dropped: $kept")
    // the lake leg keeps the hive layout (partition pruning downstream)
    assert(lakeFiles(lake).exists(_.toString.contains("source=web")))
  }

  test("indexed dedup stream: probe, keep novel, append — across runs and vs batch ingests") {
    import spark.implicits._
    val in = tmp("s4iin"); val lake = tmp("s4ilake"); val ck = tmp("s4ick")
    val idx = tmp("s4idx").toString
    def txt(seed: Int) = (0 until 20).map(i => s"tok${seed}_$i").mkString(" ")
    // standing corpus: doc 1 (built by the BATCH side — shared index)
    graft.operators.TextIndex.build(
      Seq((1L, txt(1))).toDF("doc_id", "text"), "doc_id", "text", idx)
    def run(): Unit = {
      val src = spark.readStream.schema("doc_id LONG, text STRING").json(in.toString)
      S4Stream.indexedDedupStream(src, "doc_id", "text", idx,
        lake.toString, ck.toString, availableNow = true).awaitTermination()
    }
    // batch 1: a re-crawl of the standing doc (drop) + a novel doc (keep)
    writeLines(in, "b1.json", Seq(
      s"""{"doc_id": 101, "text": "${txt(1)}"}""",
      s"""{"doc_id": 102, "text": "${txt(2)}"}"""))
    run()
    // batch 2 (new run, same index): a re-crawl of batch 1's NOVEL doc
    // must now be dropped — the stream appended it — plus one more novel
    writeLines(in, "b2.json", Seq(
      s"""{"doc_id": 201, "text": "${txt(2)}"}""",
      s"""{"doc_id": 202, "text": "${txt(3)}"}"""))
    run()
    val kept = spark.read.parquet(lake.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(102L, 202L),
      s"index-known docs 101/201 must drop, novel 102/202 must land: $kept")
    // and the shared index now answers for BATCH probes too
    val probe = graft.operators.TextIndex.probe(spark, idx,
      Seq((900L, txt(3))).toDF("doc_id", "text"), "doc_id", "text").collect()
    assert(probe.length == 1 && probe.head.getLong(1) == 202L,
      s"stream-appended doc must be visible to batch probes: ${probe.mkString(",")}")
  }

  test("takedown stream: victims leave the lake AND the index; replay converges") {
    import spark.implicits._
    val in = tmp("tkin"); val lake = tmp("tklake"); val ck = tmp("tkck")
    val idx = tmp("tkidx").toString
    def txt(seed: Int) = (0 until 20).map(i => s"ktok${seed}_$i").mkString(" ")
    graft.operators.TextIndex.build(
      Seq((1L, txt(1))).toDF("doc_id", "text"), "doc_id", "text", idx)
    // ingest two batches through the production dedup loop
    S4Stream.processIndexedDedupBatch(
      Seq((101L, txt(2)), (102L, txt(3))).toDF("doc_id", "text"),
      0L, "doc_id", "text", idx, lake.toString, "runIn")
    S4Stream.processIndexedDedupBatch(
      Seq((103L, txt(4))).toDF("doc_id", "text"),
      1L, "doc_id", "text", idx, lake.toString, "runIn")
    def lakeIds = spark.read.parquet(lake.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def probeHits(seed: Int) = graft.operators.TextIndex.probe(spark, idx,
      Seq((900L, txt(seed))).toDF("doc_id", "text"), "doc_id", "text").count()
    assert(lakeIds === Set(101L, 102L, 103L))
    assert(probeHits(2) == 1L, "pre-takedown: the victim's text must flag")
    // the takedown QUEUE, driven through the real streaming wiring
    writeLines(in, "t1.json", Seq("""{"doc_id": 101}""", """{"doc_id": 103}"""))
    val src = spark.readStream.schema("doc_id LONG").json(in.toString)
    val t = rtbfTargets("text", idx, lake)
    S4Stream.rtbfPurgeStream(src, t, ck.toString, availableNow = true)
      .awaitTermination()
    val survivors = Seq((1L, txt(1)), (102L, txt(3))).toDF("doc_id", "text")
    def converged(): Unit = {
      assert(lakeIds === Set(102L), "victims must leave the lake")
      assert(probeHits(2) == 0L && probeHits(4) == 0L,
        "probes must go blind to taken-down docs")
      assert(probeHits(3) == 1L, "survivors must still flag")
      assert(graft.operators.TextIndex.isFresh(spark, idx, survivors,
        "doc_id", "text"), "fingerprint must subtract the victims exactly")
    }
    converged()
    // the completed batch replays (its checkpoint commit lost): its purge
    // is COMPLETE and every index holds the applied/ marker, so the
    // replay is a no-op — no victim-snapshot read and no agreement job
    val replayJobs = jobsIn(S4Stream.processRtbfPurgeBatch(
      Seq(101L, 103L).toDF("doc_id"), 0L, t, purgeRunKey(lake)))
    assert(replayJobs == 0, s"a settled purge's replay ran $replayJobs Spark jobs")
    converged()
    // operator retention: pruning every tombstone unblocks even a
    // byte-identical re-ingest of the once-forgotten content
    assert(S4Stream.pruneTombstones(spark, idx, olderThanMs = 0L) >= 1)
    S4Stream.processIndexedDedupBatch(Seq((101L, txt(2))).toDF("doc_id", "text"),
      2L, "doc_id", "text", idx, lake.toString, "runIn")
    assert(lakeIds.contains(101L), "after the prune, matching content must ingest again")
  }

  test("LOGICAL takedown loop: blind + scrubbed with the ~2s lease, reclaimed at compact") {
    // the continuous-ingest route: the index leg is
    // TextIndex.logicalRemove (tombstone write, no table rewrite).
    // Probes must be blind and the lake scrubbed the moment the batch
    // commits; replay converges; the next compact() physically reclaims
    // and frees the id.
    import spark.implicits._
    val lake = tmp("ltklake"); val idx = tmp("ltkidx").toString
    def txt(seed: Int) = (0 until 20).map(i => s"ltok${seed}_$i").mkString(" ")
    graft.operators.TextIndex.build(
      Seq((1L, txt(1))).toDF("doc_id", "text"), "doc_id", "text", idx)
    S4Stream.processIndexedDedupBatch(
      Seq((101L, txt(2)), (102L, txt(3))).toDF("doc_id", "text"),
      0L, "doc_id", "text", idx, lake.toString, "runIn")
    def takedown(): Unit = S4Stream.processRtbfPurgeBatch(
      Seq(101L).toDF("doc_id"), 0L, rtbfTargets("text", idx, lake), "runTk",
      logical = true)
    takedown()
    def lakeIds = spark.read.parquet(lake.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def probeHits(seed: Int) = graft.operators.TextIndex.probe(spark, idx,
      Seq((900L, txt(seed))).toDF("doc_id", "text"), "doc_id", "text").count()
    assert(lakeIds === Set(102L), "lake must scrub physically")
    assert(probeHits(2) == 0L, "probe must be blind after the logical leg")
    assert(probeHits(3) == 1L, "survivors still match")
    val survivors = Seq((1L, txt(1)), (102L, txt(3))).toDF("doc_id", "text")
    assert(graft.operators.TextIndex.isFresh(spark, idx, survivors,
      "doc_id", "text"), "fingerprint tracks survivors immediately")
    takedown() // replay converges without double subtraction
    assert(graft.operators.TextIndex.isFresh(spark, idx, survivors,
      "doc_id", "text"), "replay must not double-subtract")
    // reclaim: rows leave disk, tombstones clear, the id is free again
    graft.operators.TextIndex.compact(spark, idx)
    val root = graft.operators.IndexMaintenance.liveRoot(
      spark.sparkContext.hadoopConfiguration, idx)
    assert(spark.read.parquet(s"$root/toks")
      .filter(col("doc_id") === 101L).count() == 0L)
    assert(graft.operators.LogicalDelete.pendingBatches(
      spark.sparkContext.hadoopConfiguration, idx).isEmpty)
    S4Stream.processIndexedDedupBatch(
      Seq((101L, txt(9))).toDF("doc_id", "text"),
      1L, "doc_id", "text", idx, lake.toString, "runIn")
    assert(lakeIds === Set(102L, 101L),
      "a reclaimed id must re-ingest as a fresh document")
  }

  test("takedown over each family: victim leaves lake and serve surface, no resurrection, re-crawl ingests") {
    // per family: ingest a batch through the family's loop and lose its
    // applied/ marker (crashed-unmarkered), take one doc down, replay
    // the ingest batch — the content tombstones must keep the victim
    // out — then ingest a CHANGED version of the victim, which is a new
    // document and must land. The fingerprint tracks the corpus of
    // record throughout.
    import spark.implicits._
    import graft.operators._
    import org.apache.spark.sql.DataFrame
    def txt(seed: Int) = (0 until 20).map(i => s"ftok${seed}_$i").mkString(" ")
    val vec = Map(1 -> Seq(1f, 0f, 0f, 0f), 2 -> Seq(0.1f, 0.95f, 0.2f, 0f),
      3 -> Seq(0.9f, 0.1f, 0.1f, 0f), 4 -> Seq(0f, 1f, 0f, 0f),
      9 -> Seq(0.05f, 0f, 0.99f, 0f))
    def docs(rows: Seq[(Long, Int)]) =
      rows.map { case (i, k) => (i, txt(k)) }.toDF("doc_id", "text")
    def vecs(rows: Seq[(Long, Int)]) =
      rows.map { case (i, k) => (i, vec(k)) }.toDF("vec_id", "embedding")
    case class Family(name: String, rows: Seq[(Long, Int)] => DataFrame,
        build: (DataFrame, String) => Unit,
        ingest: (DataFrame, Long, String, String) => Unit,
        victimServed: String => Boolean, fresh: (String, DataFrame) => Boolean)
    val families = Seq(
      Family("text", docs, TextIndex.build(_, "doc_id", "text", _),
        S4Stream.processIndexedDedupBatch(_, _, "doc_id", "text", _, _, "in"),
        i => TextIndex.probe(spark, i, docs(Seq(900L -> 2)), "doc_id", "text")
          .count() > 0L,
        TextIndex.isFresh(spark, _, _, "doc_id", "text")),
      Family("term", docs, TermIndex.build(_, "doc_id", "text", _),
        S4Stream.processTermIngestBatch(_, _, "doc_id", "text", _, _, "in"),
        i => !TermIndex.knownIds(spark, i, Seq(101L).toDF("doc_id"), "doc_id").isEmpty,
        TermIndex.isFresh(spark, _, _, "doc_id", "text")),
      Family("cluster", docs, ClusterIndex.build(_, "doc_id", "text", _),
        S4Stream.processIndexedClusterBatch(_, _, "doc_id", "text", _, _, "in"),
        i => !ClusterIndex.knownIds(spark, i, Seq(101L).toDF("doc_id"), "doc_id").isEmpty,
        ClusterIndex.isFresh(spark, _, _, "doc_id", "text")),
      Family("vector", vecs, (d, i) => VectorIndex.build(d, i, nlist = 2),
        S4Stream.processIndexedSemanticBatch(_, _, "vec_id", "embedding", _, _,
          0.99, "in"),
        i => VectorIndex.probeDups(spark, i, vecs(Seq(900L -> 2)), tau = 0.999)
          .count() > 0L,
        VectorIndex.isFresh(spark, _, _)))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // the families share no lake or index: run them concurrently
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(families)(f => Future {
      val lake = tmp(s"tk_${f.name}_lake"); val idx = tmp(s"tk_${f.name}_idx").toString
      val t = rtbfTargets(f.name, idx, lake)
      f.build(f.rows(Seq(1L -> 1, 2L -> 4)), idx)
      val b0 = f.rows(Seq(101L -> 2, 102L -> 3))
      f.ingest(b0, 0L, idx, lake.toString)
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$idx/applied/ckin_b0"), false))
      S4Stream.processRtbfPurgeBatch(Seq(101L).toDF(t.idCol), 0L, t, "tk")
      def holds(rows: Seq[(Long, Int)], why: String): Unit = {
        val lakeIds = spark.read.parquet(lake.toString).select(t.idCol)
          .collect().map(_.getLong(0)).toSet
        assert(lakeIds === rows.map(_._1).filter(_ > 100L).toSet, s"${f.name}: $why")
        assert(f.fresh(idx, f.rows(rows)), s"${f.name}: $why (fingerprint)")
      }
      val survivors = Seq(1L -> 1, 2L -> 4, 102L -> 3)
      holds(survivors, "the victim must leave the lake")
      assert(!f.victimServed(idx), s"${f.name}: the victim must leave the serve surface")
      f.ingest(b0, 0L, idx, lake.toString) // the crashed batch's replay
      holds(survivors, "the ingest replay resurrected the victim")
      assert(!f.victimServed(idx), s"${f.name}: the ingest replay re-served the victim")
      f.ingest(f.rows(Seq(101L -> 9)), 1L, idx, lake.toString)
      holds(survivors :+ (101L -> 9), "content-scoped tombstones must admit a changed re-crawl")
    }), scala.concurrent.duration.Duration.Inf)
  }

  test("pruneTombstones ages batches by their files, not the directory") {
    // ADVICE r12: object-store "directory" mtimes are synthetic (0, or
    // listing time) — aging by the batch DIR would read every batch as
    // infinitely old on S3A and delete ALL tombstones regardless of
    // olderThanMs, silently reopening the resurrection window. The
    // retention decision must use the newest contained FILE's mtime,
    // exactly as IndexAdmin.report displays it.
    import spark.implicits._
    val idx = tmp("tombage").toString
    S4Stream.recordTombstones(Seq((1L, "victim one")).toDF("doc_id", "text"),
      "doc_id", "text", idx, "tkA")
    S4Stream.recordTombstones(Seq((2L, "victim two")).toDF("doc_id", "text"),
      "doc_id", "text", idx, "tkB")
    val removed = new java.io.File(s"$idx/removed")
    val batches = removed.listFiles().filter(_.isDirectory)
    assert(batches.length == 2)
    // simulate the object store: every batch DIR reads as epoch-old
    // while the contained files stay fresh
    batches.foreach(d => assert(d.setLastModified(1000L)))
    assert(S4Stream.pruneTombstones(spark, idx, olderThanMs = 3600000L) == 0,
      "fresh tombstones were pruned off the synthetic directory mtime")
    assert(removed.listFiles().count(_.isDirectory) == 2)
    // genuinely old FILES do prune (age one batch's contents only)
    val oldBatch = batches.minBy(_.getName)
    oldBatch.listFiles().foreach(f => assert(f.setLastModified(1000L)))
    assert(S4Stream.pruneTombstones(spark, idx, olderThanMs = 3600000L) == 1)
    assert(removed.listFiles().filter(_.isDirectory).map(_.getName).toSeq ===
      Seq(batches.maxBy(_.getName).getName))
  }

  test("vector takedown: victims leave the lake and the IVF index; compact GCs edges") {
    // the vector-only deployment, LOGICAL, through the real stream
    // wiring: the semantic loop's lake is both the document lake and
    // the embedding lake, and compact() reclaims the victim's cell rows
    import spark.implicits._
    val in = tmp("vtkin"); val lake = tmp("vtklake"); val ck = tmp("vtkck")
    val idx = tmp("vtkidx").toString
    graft.operators.VectorIndex.build(
      Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
        .toDF("vec_id", "embedding"), idx, nlist = 2)
    // ingest one batch through the semantic loop
    S4Stream.processIndexedSemanticBatch(
      Seq((101L, Seq(0.1f, 0.95f, 0.2f, 0f)), (102L, Seq(0.9f, 0.1f, 0.1f, 0f)))
        .toDF("vec_id", "embedding"),
      0L, "vec_id", "embedding", idx, lake.toString, 0.99, "runVin")
    def lakeIds = spark.read.parquet(lake.toString)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(lakeIds === Set(101L, 102L))
    val clone101 = Seq((900L, Seq(0.1f, 0.95f, 0.2f, 0f)))
      .toDF("vec_id", "embedding").localCheckpoint()
    def probe101 = graft.operators.VectorIndex
      .probeDups(spark, idx, clone101, tau = 0.999).count()
    assert(probe101 == 1L)
    writeLines(in, "v1.json", Seq("""{"vec_id": 101}"""))
    val src = spark.readStream.schema("vec_id LONG").json(in.toString)
    S4Stream.rtbfPurgeStream(src, rtbfTargets("vector", idx, lake),
      ck.toString, availableNow = true, logical = true).awaitTermination()
    val survivors = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (102L, Seq(0.9f, 0.1f, 0.1f, 0f))).toDF("vec_id", "embedding")
    assert(lakeIds === Set(102L), "victim must leave the lake")
    assert(probe101 == 0L, "dup-probe must go blind to the taken-down vector")
    assert(graft.operators.VectorIndex.isFresh(spark, idx, survivors),
      "fingerprint must subtract the victim exactly")
    graft.operators.VectorIndex.compact(spark, idx)
    val root = graft.operators.IndexMaintenance.liveRoot(
      spark.sparkContext.hadoopConfiguration, idx)
    assert(spark.read.parquet(s"$root/cells")
      .filter(col("vec_id") === 101L).count() == 0L,
      "compact must reclaim the victim's cell rows")
  }

  test("refused takedown rolls its tombstones back; the pending ingest then completes") {
    // a takedown for a victim whose ingest batch crashed BEFORE its
    // index append writes tombstones and then remove() rightly refuses
    // — if the tombstones survived, the ingest replay would drop the
    // victim while recording its tag, and the takedown retry would
    // subtract a fingerprint never added. With rollback, the ingest
    // replay completes the append verbatim and the retry runs clean.
    import spark.implicits._
    val lake = tmp("rblake"); val idx = tmp("rbidx").toString
    def txt(seed: Int) = (0 until 20).map(i => s"rbtok${seed}_$i").mkString(" ")
    graft.operators.TextIndex.build(
      Seq((1L, txt(1))).toDF("doc_id", "text"), "doc_id", "text", idx)
    // the crashed ingest: its lake subtree landed, the index append did
    // not run (crash before append)
    Seq((101L, txt(2)), (102L, txt(3))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$lake/batch=0")
    def takedown(): Unit = S4Stream.processRtbfPurgeBatch(
      Seq(101L).toDF("doc_id"), 0L, rtbfTargets("text", idx, lake), "rbtk")
    val ex = intercept[IllegalArgumentException](takedown())
    assert(ex.getMessage.contains("indexed"), ex.getMessage)
    val removedDir = new org.apache.hadoop.fs.Path(s"$idx/removed")
    val fs = removedDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(removedDir) || fs.listStatus(removedDir).isEmpty,
      "a refused takedown must roll its tombstones back")
    // the ingest replay completes the append — the victim must not be
    // silently dropped by stale tombstones
    S4Stream.processIndexedDedupBatch(
      Seq((101L, txt(2)), (102L, txt(3))).toDF("doc_id", "text"),
      0L, "doc_id", "text", idx, lake.toString, "rbin")
    def probeHits(seed: Int) = graft.operators.TextIndex.probe(spark, idx,
      Seq((900L, txt(seed))).toDF("doc_id", "text"), "doc_id", "text").count()
    assert(probeHits(2) == 1L, "the completed ingest must index the doc")
    takedown() // the retry resumes from the batch's manifest and succeeds
    assert(spark.read.parquet(lake.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(102L))
    assert(probeHits(2) == 0L, "retried takedown must blind the probe")
    assert(probeHits(3) == 1L, "the survivor must stay probeable")
    assert(graft.operators.TextIndex.isFresh(spark, idx,
      Seq((1L, txt(1)), (102L, txt(3))).toDF("doc_id", "text"),
      "doc_id", "text"),
      "fingerprint must land exactly on the surviving corpus")
  }

  test("cluster tombstones: batch RTBF + recordTombstones blocks the cluster replay") {
    // the CLUSTER loop's resurrection guard and its recorded-tag replay
    // branch: a batch ClusterIndex.remove against a live streaming lake
    // calls recordTombstones (per its doc); the crashed-unmarkered
    // ingest replay must drop the victim AND rebuild its batch feed
    // from the live assignment map (append would refuse the shrunken
    // delta under the used tag).
    import spark.implicits._
    val lake = tmp("rsclake"); val idx = tmp("rscidx").toString
    def t(seed: Int) = (0 until 20).map(i => s"rstok${seed}_$i").mkString(" ")
    graft.operators.ClusterIndex.build(
      Seq((1L, t(1))).toDF("doc_id", "text"), "doc_id", "text", idx)
    val b0 = Seq((2L, t(2)), (3L, t(3))).toDF("doc_id", "text")
    S4Stream.processIndexedClusterBatch(b0, 0L, "doc_id", "text",
      idx, lake.toString, runKey = "ctb")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$idx/applied/ckctb_b0"), false))
    // batch RTBF flow: tombstone FIRST, then the index remove
    val victims = Seq((2L, t(2))).toDF("doc_id", "text")
    S4Stream.recordTombstones(victims, "doc_id", "text", idx, "ctake")
    graft.operators.ClusterIndex.remove(victims, "doc_id", "text", idx,
      tag = "ctake")
    // the ingest replay: victim tombstoned out, tag already recorded →
    // feed rebuilt from assignments, no append
    S4Stream.processIndexedClusterBatch(b0, 0L, "doc_id", "text",
      idx, lake.toString, runKey = "ctb")
    val assigns = graft.operators.ClusterIndex.assignments(spark, idx, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigns === Map(1L -> 1L, 3L -> 3L),
      s"replay resurrected the victim in the cluster index: $assigns")
    val feed = spark.read.parquet(s"$lake/batch=0").select("doc_id", "component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feed === Map(3L -> 3L),
      s"replayed feed must rebuild from live assignments: $feed")
    assert(graft.operators.ClusterIndex.isFresh(spark, idx,
      Seq((1L, t(1)), (3L, t(3))).toDF("doc_id", "text"), "doc_id", "text"),
      "fingerprint must track the surviving corpus")
  }

  test("cluster compaction GCs dangling set-set edges after a whole-set removal") {
    import spark.implicits._
    // Set 1: docs 10/20 IDENTICAL (24 tokens); set 2: doc 30 = set 1
    // plus one extra token (J = 24/25 = 0.96 — a genuine NEAR-dup of a
    // DISTINCT set, so the log holds a set-set edge between the two
    // virtual nodes); doc 40 unrelated. Review-caught: the previous
    // fixture had disjoint vocabularies, so no set-set row ever
    // existed and the GC assertion was vacuous.
    val base = (0 until 24).map(i => s"gtok_$i").mkString(" ")
    val corpus = Seq((10L, base), (20L, base), (30L, base + " gtok_extra"),
      (40L, (0 until 24).map(i => s"other_$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("edgegc").toString
    graft.operators.ClusterIndex.build(corpus, "doc_id", "text", dir)
    val conf = spark.sparkContext.hadoopConfiguration
    def edges(root: String) = spark.read.parquet(s"$root/edges")
    val preRoot = graft.operators.IndexMaintenance.liveRoot(conf, dir)
    // non-vacuousness: the fixture must actually hold a set-set edge
    assert(edges(preRoot).filter(col("u") < 0 && col("v") < 0).count() == 1L,
      "fixture must plant exactly one set-set edge")
    // remove BOTH members of set 1: its node dies, its set-set row dangles
    graft.operators.ClusterIndex.remove(
      Seq((10L, base), (20L, base)).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "gc1")
    val midRoot = graft.operators.IndexMaintenance.liveRoot(conf, dir)
    assert(edges(midRoot).filter(col("v") >= 0 && col("v").isin(10L, 20L))
      .count() == 0L, "victim member rows must be gone")
    assert(edges(midRoot).filter(col("u") < 0 && col("v") < 0).count() == 1L,
      "the dangling set-set row is kept until compaction (read-time rule)")
    graft.operators.ClusterIndex.compact(spark, dir, foldUnmarkedTags = true)
    val postRoot = graft.operators.IndexMaintenance.liveRoot(conf, dir)
    assert(edges(postRoot).filter(col("u") < 0 && col("v") < 0).count() == 0L,
      "compaction must GC the dangling set-set row")
    // and the surviving corpus still answers correctly
    val m = graft.operators.ClusterIndex.assignments(spark, dir, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(30L -> 30L, 40L -> 40L), s"post-GC assignments drifted: $m")
  }

  test("indexed SEMANTIC dedup stream: probe cells, keep novel, append — across runs") {
    import spark.implicits._
    val in = tmp("svin"); val lake = tmp("svlake"); val ck = tmp("svck")
    val idx = tmp("svidx").toString
    // standing corpus: two well-separated unit-ish vectors, nlist=2
    graft.operators.VectorIndex.build(
      Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
        .toDF("vec_id", "embedding"), idx, nlist = 2)
    def run(): Unit = {
      val src = spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .json(in.toString)
      S4Stream.indexedSemanticDedupStream(src, "vec_id", "embedding", idx,
        lake.toString, ck.toString, tau = 0.9, availableNow = true)
        .awaitTermination()
    }
    // batch 1: 101 ~ copy of indexed vector 1 (cos ≈ 1 -> drop);
    // 102 sits in vector 2's cell but at cos ≈ 0.87 < tau (novel, keep)
    writeLines(in, "b1.json", Seq(
      """{"vec_id": 101, "embedding": [0.999, 0.01, 0.0, 0.0]}""",
      """{"vec_id": 102, "embedding": [0.1, 0.9, 0.5, 0.0]}"""))
    run()
    // batch 2 (new run, same index): 201 ~ copy of the APPENDED 102 ->
    // drop (the stream dedups against its own past); 202 novel
    writeLines(in, "b2.json", Seq(
      """{"vec_id": 201, "embedding": [0.101, 0.902, 0.501, 0.0]}""",
      """{"vec_id": 202, "embedding": [0.0, 0.0, 0.0, 1.0]}"""))
    run()
    val kept = spark.read.parquet(lake.toString)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(102L, 202L),
      s"near-copies 101/201 must drop, novel 102/202 must land: $kept")
    // the shared index answers batch-side probes too, and its
    // fingerprint tracked build corpus + streamed appends
    val probe = graft.operators.VectorIndex.probeDups(spark, idx,
      Seq((900L, Seq(0.1f, 0.9f, 0.5f, 0.0f))).toDF("vec_id", "embedding"),
      tau = 0.9).collect()
    assert(probe.length == 1 && probe.head.getLong(1) == 102L,
      s"stream-appended vector must flag batch probes: ${probe.mkString(",")}")
  }

  test("indexed semantic dedup replay is idempotent: lake and index unchanged") {
    import spark.implicits._
    val lake = tmp("svrlake"); val idx = tmp("svridx").toString
    graft.operators.VectorIndex.build(
      Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
        .toDF("vec_id", "embedding"), idx, nlist = 2)
    val batch = Seq(
      (101L, Seq(0.999f, 0.01f, 0f, 0f)),   // dup of indexed 1
      (102L, Seq(0.1f, 0.9f, 0.5f, 0f)))    // novel
      .toDF("vec_id", "embedding")
    def lakeIds = spark.read.parquet(lake.toString)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def cellRows = spark.read.parquet(s"$idx/cells").count()
    S4Stream.processIndexedSemanticBatch(batch, 0L, "vec_id", "embedding",
      idx, lake.toString, 0.9, "runV")
    val (ids1, cells1) = (lakeIds, cellRows)
    assert(ids1 === Set(102L))
    // markered replay: skipped outright
    S4Stream.processIndexedSemanticBatch(batch, 0L, "vec_id", "embedding",
      idx, lake.toString, 0.9, "runV")
    assert(lakeIds === ids1 && cellRows === cells1)
    // crash between append and marker: tag exclusion keeps the lake intact
    // (without it 102 would flag against its own indexed copy and the
    // overwrite would empty the batch subtree)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$idx/applied/ckrunV_b0"), false))
    S4Stream.processIndexedSemanticBatch(batch, 0L, "vec_id", "embedding",
      idx, lake.toString, 0.9, "runV")
    assert(lakeIds === ids1,
      "replay after un-markered append must recreate identical lake content")
    // and the re-append merged the delta fingerprint ONCE (ADVICE r9):
    // the index must still read fresh against its corpus of record
    assert(graft.operators.VectorIndex.isFresh(spark, idx,
      Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
        (102L, Seq(0.1f, 0.9f, 0.5f, 0f))).toDF("vec_id", "embedding")),
      "un-markered replay must not drift the index fingerprint")
  }

  test("stable-id re-crawl still dedups: tag exclusion is not id exclusion") {
    import spark.implicits._
    val lake = tmp("s4slake"); val idx = tmp("s4sidx").toString
    def txt(seed: Int) = (0 until 20).map(i => s"stok${seed}_$i").mkString(" ")
    graft.operators.TextIndex.build(
      Seq((1L, txt(1))).toDF("doc_id", "text"), "doc_id", "text", idx)
    // batch 0 ingests novel doc 42; batch 1 re-crawls THE SAME id with
    // the same text. An id-based self-exclusion would hide batch 0's
    // indexed copy from the probe and re-ingest the duplicate; the
    // provenance tag only hides rows appended by the PROBING batch.
    val b0 = Seq((42L, txt(7))).toDF("doc_id", "text")
    S4Stream.processIndexedDedupBatch(b0, 0L, "doc_id", "text",
      idx, lake.toString, "runS")
    val recrawl = Seq((42L, txt(7))).toDF("doc_id", "text")
    S4Stream.processIndexedDedupBatch(recrawl, 1L, "doc_id", "text",
      idx, lake.toString, "runS")
    val lakeRows = spark.read.parquet(lake.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(lakeRows == Seq(42L),
      s"the re-crawled duplicate must be flagged, not re-ingested: $lakeRows")
  }

  test("indexed dedup stream replay is idempotent: lake and index unchanged") {
    import spark.implicits._
    val lake = tmp("s4rlake"); val idx = tmp("s4ridx").toString
    def txt(seed: Int) = (0 until 20).map(i => s"rtok${seed}_$i").mkString(" ")
    graft.operators.TextIndex.build(
      Seq((1L, txt(1))).toDF("doc_id", "text"), "doc_id", "text", idx)
    // batch 0: one re-crawl of the standing doc (drop) + two novel docs
    val batch = Seq((101L, txt(1)), (102L, txt(2)), (103L, txt(3)))
      .toDF("doc_id", "text")
    def lakeIds = spark.read.parquet(lake.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def bandRows = spark.read.parquet(s"$idx/bands").count()
    S4Stream.processIndexedDedupBatch(batch, 0L, "doc_id", "text",
      idx, lake.toString, "runA")
    val (ids1, bands1) = (lakeIds, bandRows)
    assert(ids1 === Set(102L, 103L), s"novel docs must land: $ids1")
    // full replay (marker present — crash AFTER the commit marker):
    // the batch must be skipped outright
    S4Stream.processIndexedDedupBatch(batch, 0L, "doc_id", "text",
      idx, lake.toString, "runA")
    assert(lakeIds === ids1, "replay with marker must not touch the lake")
    assert(bandRows === bands1, "replay with marker must not re-append")
    // crash BETWEEN append and marker: marker missing, index already has
    // the batch. Without self-exclusion the re-probe flags every doc
    // against its own indexed copy and overwrites the lake subtree EMPTY.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$idx/applied/ckrunA_b0"), false), "marker must exist to delete")
    S4Stream.processIndexedDedupBatch(batch, 0L, "doc_id", "text",
      idx, lake.toString, "runA")
    assert(lakeIds === ids1,
      "replay after un-markered append must recreate identical lake content")
    // the re-append duplicates that batch's band rows (documented,
    // flag-neutral): probe results must be unchanged
    val probe = graft.operators.TextIndex.probe(spark, idx,
      Seq((900L, txt(2))).toDF("doc_id", "text"), "doc_id", "text").collect()
    assert(probe.length == 1 && probe.head.getLong(1) == 102L,
      s"probe flags must survive the duplicate append: ${probe.mkString(",")}")
    // and the re-append merged the delta fingerprint ONCE (ADVICE r9):
    // the index must still read fresh against its corpus of record
    assert(graft.operators.TextIndex.isFresh(spark, idx,
      Seq((1L, txt(1)), (102L, txt(2)), (103L, txt(3))).toDF("doc_id", "text"),
      "doc_id", "text"),
      "un-markered replay must not drift the index fingerprint")
  }

  test("streaming DQ monitor scores each batch: nulls, range breaks, dup keys") {
    val in = tmp("dqin"); val ck = tmp("dqck"); val out = tmp("dqout")
    def run(): Unit = {
      val src = spark.readStream.schema("k STRING, x DOUBLE").json(in.toString)
      val q = S4Stream.dqMonitorStream(src, "k", "x", lo = 0.0, hi = 100.0,
        out.toString, ck.toString, availableNow = true)
      q.awaitTermination()
    }
    // batch 1: clean
    writeLines(in, "b1.json", Seq(
      """{"k": "a", "x": 5.0}""", """{"k": "b", "x": 50.0}"""))
    run()
    // batch 2: one null key, one out-of-range value, one duplicate key
    writeLines(in, "b2.json", Seq(
      """{"k": null, "x": 5.0}""", """{"k": "c", "x": 500.0}""",
      """{"k": "d", "x": 1.0}""", """{"k": "d", "x": 2.0}"""))
    run()
    val m = spark.read.parquet(out.toString)
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("check")) ->
        (r.getAs[Long]("violations"), r.getAs[Boolean]("pass"))).toMap
    assert(m.size == 6, s"3 checks x 2 batches: $m")
    assert(m((0L, "null_keys")) == (0L, true) &&
      m((0L, "range_violations")) == (0L, true) &&
      m((0L, "dup_keys")) == (0L, true), s"batch 1 must be clean: $m")
    assert(m((1L, "null_keys")) == (1L, false), s"one null key in batch 2: $m")
    assert(m((1L, "range_violations")) == (1L, false), s"x=500 breaks [0,100]: $m")
    // dup check: 4 rows, distinct keys {c, d} + null -> count-distinct
    // ignores the null, so dups = 4 - 3 = ... asserted from the data:
    assert(m((1L, "dup_keys"))._2 == false, s"duplicate key d must flag: $m")
  }

  test("streaming ordered funnel advances strictly in order across checkpointed batches") {
    val in = tmp("funin"); val ck = tmp("funck"); val out = tmp("funout")
    def run(): Unit = {
      val src = spark.readStream
        .schema("k LONG, ts TIMESTAMP, seq LONG, t STRING")
        .json(in.toString)
      val q = S4Stream.funnelStream(src, "k", "ts", "seq", "t",
          Seq("view", "click", "purchase"))
        .writeStream.format("parquet").outputMode("append")
        .option("path", out.toString)
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def row(k: Long, min: Int, seq: Long, t: String) =
      s"""{"k": $k, "ts": "2024-01-01 00:${"%02d".format(min)}:00", "seq": $seq, "t": "$t"}"""
    // user 1: click arrives before its view IN EVENT TIME within b1 —
    //   the within-batch sort must discard it (no step yet reached);
    // user 2: purchase first (skipping view) must not count;
    // user 3: reaches view in b1.
    writeLines(in, "b1.json", Seq(
      row(1, 2, 1, "click"), row(1, 5, 2, "view"),
      row(2, 3, 3, "purchase"), row(2, 6, 4, "view"),
      row(3, 9, 5, "view")))
    run()
    // b2 (checkpointed restart — user state must carry over):
    // user 1 completes click -> purchase in order;
    // user 2's second purchase still skips the click step;
    // user 3's click is EARLIER than its reached view — strict-after drops it.
    writeLines(in, "b2.json", Seq(
      row(1, 10, 6, "click"), row(1, 12, 7, "purchase"),
      row(2, 13, 8, "purchase"),
      row(3, 4, 9, "click")))
    run()
    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Int]("step"),
        r.getAs[String]("step_type"))).toSet
    val expected = Set(
      (1L, 1, "view"), (1L, 2, "click"), (1L, 3, "purchase"),
      (2L, 1, "view"),
      (3L, 1, "view"))
    assert(got == expected, s"funnel transitions: $got")
  }

  test("streaming EWMA anomaly detector flags the planted spike, matches the sequential recurrence") {
    val in = tmp("ewmain"); val ck = tmp("ewmack"); val out = tmp("ewmaout")
    def run(): Unit = {
      val src = spark.readStream
        .schema("k STRING, ts TIMESTAMP, seq LONG, x DOUBLE")
        .json(in.toString)
      val q = S4Stream.ewmaAnomalyStream(src, "k", "ts", "seq", "x",
          alpha = 0.3, k = 3.0, warmup = 5)
        .writeStream.format("parquet").outputMode("append")
        .option("path", out.toString)
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // stable series around 10 +/- 1, with one 100.0 spike in batch 2 —
    // the detector warms up in batch 1 and must flag ONLY the spike
    val b1 = Seq(10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 11.0)
    val b2 = Seq(9.0, 100.0, 10.0, 10.5)
    def row(i: Int, x: Double) =
      s"""{"k": "m", "ts": "2024-01-01 00:${"%02d".format(i)}:00", "seq": $i, "x": $x}"""
    writeLines(in, "b1.json", b1.zipWithIndex.map { case (x, i) => row(i, x) })
    run()
    writeLines(in, "b2.json", b2.zipWithIndex.map { case (x, i) => row(b1.size + i, x) })
    run() // checkpointed restart: state (m, v, n) must carry over
    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getAs[Double]("value"), r.getAs[Double]("forecast"),
        r.getAs[Double]("sigmas")))
    // sequential reference of the same recurrence over the full series
    var m = 0.0; var v = 0.0; var n = 0L
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    (b1 ++ b2).foreach { x =>
      if (n >= 5) {
        val sd = math.sqrt(v)
        if (sd > 0 && math.abs(x - m) > 3.0 * sd)
          expected += ((x, m, math.abs(x - m) / sd))
      }
      if (n == 0L) { m = x } else {
        val diff = x - m; val incr = 0.3 * diff
        m += incr; v = 0.7 * (v + diff * incr)
      }
      n += 1
    }
    assert(expected.map(_._1) == scala.collection.mutable.ArrayBuffer(100.0),
      s"fixture must plant exactly one spike: $expected")
    assert(got.toSeq.sortBy(_._1) == expected.toSeq.sortBy(_._1),
      s"streamed anomalies $got != sequential reference $expected")
  }

  test("streaming SCD2 closes intervals on attribute change, across restarts; late rows drop") {
    val in = tmp("scd2in"); val ck = tmp("scd2ck"); val out = tmp("scd2out")
    def run(): Unit = {
      val src = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP, event_id LONG, event_type STRING")
        .json(in.toString)
      val q = S4Stream.scd2Stream(src, "user_id", "ts", "event_id", "event_type")
        .writeStream.format("parquet").outputMode("append")
        .option("path", out.toString)
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def ts(s: Int) = s"2024-01-01 00:00:0$s"
    writeLines(in, "b1.json", Seq(
      s"""{"user_id": 1, "ts": "${ts(1)}", "event_id": 1, "event_type": "view"}""",
      s"""{"user_id": 1, "ts": "${ts(2)}", "event_id": 2, "event_type": "click"}""",
      s"""{"user_id": 2, "ts": "${ts(1)}", "event_id": 3, "event_type": "view"}"""))
    run()
    // batch 2 (checkpointed restart): same-attr row is a no-op, a change
    // closes the CROSS-BATCH interval, and a late row must not regress
    writeLines(in, "b2.json", Seq(
      s"""{"user_id": 1, "ts": "${ts(3)}", "event_id": 4, "event_type": "click"}""",
      s"""{"user_id": 1, "ts": "${ts(4)}", "event_id": 5, "event_type": "error"}""",
      s"""{"user_id": 1, "ts": "${ts(0)}", "event_id": 6, "event_type": "purchase"}""",
      s"""{"user_id": 2, "ts": "${ts(5)}", "event_id": 7, "event_type": "purchase"}"""))
    run()
    val us = (s: Int) => {
      val fmt = java.time.LocalDateTime.parse(s"2024-01-01T00:00:0$s")
      fmt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    }
    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[String]("attr"),
        r.getAs[Long]("valid_from_us"), r.getAs[Long]("valid_to_us"))).toSet
    assert(got == Set(
      (1L, "view", us(1), us(2)),   // closed within batch 1
      (1L, "click", us(2), us(4)),  // opened in b1, survived same-attr b2 row, closed in b2
      (2L, "view", us(1), us(5))),  // closed across the batch boundary
      s"closed intervals wrong: $got")
  }

  test("streaming minhash sketch equals the batch union signature across restarts") {
    val in = tmp("s4min"); val ck = tmp("s4mck")
    def run(): Unit = {
      val src = spark.readStream.schema("source STRING, text STRING").json(in.toString)
      val q = S4Stream.minhashSketchStream(src, "source", numHashes = 32)
        .writeStream.format("memory").queryName("sketch_out").outputMode("complete")
        .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
        .start()
      q.awaitTermination()
    }
    writeLines(in, "b1.json", Seq(
      """{"source": "web", "text": "alpha beta gamma delta epsilon"}""",
      """{"source": "book", "text": "one two three four five"}"""))
    run()
    writeLines(in, "b2.json", Seq(
      """{"source": "web", "text": "gamma delta epsilon zeta eta"}"""))
    run()
    val streamed = spark.table("sketch_out").collect()
      .map(r => r.getAs[String]("source") -> r.getSeq[Long](1)).toMap
    // batch reference: same signature pipeline over ALL docs at once
    val batch = S4Stream.minhashSketchStream(
      spark.read.schema("source STRING, text STRING").json(in.toString), "source",
      numHashes = 32).collect()
      .map(r => r.getAs[String]("source") -> r.getSeq[Long](1)).toMap
    assert(streamed.keySet == Set("web", "book"))
    assert(streamed == batch,
      "cross-restart streamed sketch must equal the batch union signature")
  }

  test("stream-stream interval join matches in-window pairs and only those") {
    val inL = tmp("s4jl"); val inR = tmp("s4jr"); val ck = tmp("s4jck")
    // impressions (left) and clicks (right); window = 5 minutes.
    // ad 1: click 2 min after impression -> match
    // ad 2: click 20 min after impression -> outside window, no match
    // ad 3: click 1 min BEFORE impression -> no match (right >= left)
    writeLines(inL, "imp.json", Seq(
      """{"ad": 1, "its": "2024-01-01 00:00:00"}""",
      """{"ad": 2, "its": "2024-01-01 00:00:00"}""",
      """{"ad": 3, "its": "2024-01-01 00:10:00"}"""))
    writeLines(inR, "clk.json", Seq(
      """{"ad": 1, "cts": "2024-01-01 00:02:00"}""",
      """{"ad": 2, "cts": "2024-01-01 00:20:00"}""",
      """{"ad": 3, "cts": "2024-01-01 00:09:00"}"""))
    val l = spark.readStream.schema("ad LONG, its TIMESTAMP").json(inL.toString)
    val r = spark.readStream.schema("ad LONG, cts TIMESTAMP").json(inR.toString)
    val q = S4Stream.intervalJoinStreams(l, r, "ad", "its", "cts",
        watermark = "10 minutes", joinWindow = "5 minutes")
      .writeStream.format("memory").queryName("sj_out")
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
      .start()
    q.awaitTermination()
    val out = spark.table("sj_out")
      .select(col("ad"), col("cts").cast("string"))
      .collect().map(x => (x.getLong(0), x.getString(1))).toSet
    assert(out === Set((1L, "2024-01-01 00:02:00")),
      s"only the in-window click may join: $out")
  }

  test("left-outer interval join emits unmatched rows with nulls once the watermark passes") {
    val inL = tmp("s4ol"); val inR = tmp("s4or"); val ck = tmp("s4ock")
    // ad 1 gets an in-window click; ad 2 never does. The b_* sentinel
    // files (non-matching ad ids, 6h later) push BOTH watermarks far
    // past ad 2's match window so its outer row can emit; the sentinel
    // impression itself (ad 98) stays in state — its window is still
    // open — proving outer emission waits for the watermark.
    writeLines(inL, "a_imp.json", Seq(
      """{"ad": 1, "its": "2024-01-01 00:00:00"}""",
      """{"ad": 2, "its": "2024-01-01 00:00:00"}"""))
    writeLines(inR, "a_clk.json", Seq(
      """{"ad": 1, "cts": "2024-01-01 00:02:00"}"""))
    writeLines(inL, "b_imp.json", Seq(
      """{"ad": 98, "its": "2024-01-01 06:00:00"}"""))
    writeLines(inR, "b_clk.json", Seq(
      """{"ad": 99, "cts": "2024-01-01 06:00:00"}"""))
    val l = spark.readStream.schema("ad LONG, its TIMESTAMP")
      .option("maxFilesPerTrigger", 1).json(inL.toString)
    val r = spark.readStream.schema("ad LONG, cts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).json(inR.toString)
    val q = S4Stream.intervalJoinStreams(l, r, "ad", "its", "cts",
        watermark = "10 minutes", joinWindow = "5 minutes",
        joinType = "left_outer")
      .writeStream.format("memory").queryName("soj_out")
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
      .start()
    q.awaitTermination()
    val out = spark.table("soj_out")
      .select(col("ad"), col("cts").cast("string"))
      .collect().map(x => (x.getLong(0), Option(x.getString(1)))).toSet
    assert(out === Set(
      (1L, Some("2024-01-01 00:02:00")),
      (2L, None)),
      s"matched ad 1, null-padded ad 2, sentinel withheld: $out")
  }

  test("streaming session windows finalize when the watermark passes") {
    val in = tmp("s4sin"); val ck = tmp("s4sck")
    // batch 1: user 1 has two sessions (gap > 30 min); batch 2 is 6 hours
    // later, pushing the watermark far past batch 1 so its sessions emit
    // in append mode.
    writeLines(in, "a_batch1.json", Seq(
      """{"user_id": 1, "ts": "2024-01-01 00:00:00"}""",
      """{"user_id": 1, "ts": "2024-01-01 00:10:00"}""",
      """{"user_id": 1, "ts": "2024-01-01 01:00:00"}""",
      """{"user_id": 2, "ts": "2024-01-01 00:05:00"}"""))
    writeLines(in, "b_batch2.json", Seq(
      """{"user_id": 9, "ts": "2024-01-01 06:00:00"}"""))
    val src = spark.readStream.schema("user_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val sessions = S4Stream.sessionWindowStream(src, "user_id", "ts",
      gap = "30 minutes", watermark = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
      .start()
    q.awaitTermination()
    val out = spark.table("sess_out")
      .select(col("user_id"), col("session_start").cast("string"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out.contains((1L, "2024-01-01 00:00:00", 2L)), s"merged session missing: $out")
    assert(out.contains((1L, "2024-01-01 01:00:00", 1L)), s"second session missing: $out")
    assert(out.contains((2L, "2024-01-01 00:05:00", 1L)), s"user 2 session missing: $out")
  }

  test("streaming upsert: latest version wins, stale replay can't regress, touched buckets only") {
    val in = tmp("s4uin"); val ck = tmp("s4uck"); val table = tmp("s4utab")
    // batch 1: first versions of A and B
    writeLines(in, "a_b1.json", Seq(
      """{"k": "A", "v": 1, "payload": "a1"}""",
      """{"k": "B", "v": 1, "payload": "b1"}"""))
    def run(): Unit = {
      val src = spark.readStream.schema("k STRING, v LONG, payload STRING")
        .option("maxFilesPerTrigger", 1).json(in.toString)
      val q = S4Stream.upsertStream(src, "k", "v",
        table.toString, ck.toString, numBuckets = 8)
      q.awaitTermination()
    }
    run()
    def state(): Map[String, (Long, String)] = spark.read.parquet(table.toString)
      .select(col("k"), col("v"), col("payload"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(state() == Map("A" -> (1L, "a1"), "B" -> (1L, "b1")))

    // batch 2: A updates to v2, C inserts, and a STALE replay of A v1
    // arrives in the same batch — the within-batch contraction plus the
    // version-wins merge must keep v2
    writeLines(in, "b_b2.json", Seq(
      """{"k": "A", "v": 2, "payload": "a2"}""",
      """{"k": "A", "v": 1, "payload": "a1-late"}""",
      """{"k": "C", "v": 1, "payload": "c1"}"""))
    run()
    assert(state() == Map("A" -> (2L, "a2"), "B" -> (1L, "b1"), "C" -> (1L, "c1")))

    // batch 3: stale-only batch for A (pure replay) — no regression
    writeLines(in, "c_b3.json", Seq("""{"k": "A", "v": 1, "payload": "a1-again"}"""))
    run()
    assert(state() == Map("A" -> (2L, "a2"), "B" -> (1L, "b1"), "C" -> (1L, "c1")))
  }

  test("upsert + lake through file:-scheme Hadoop URIs; equal-version replay is deterministic") {
    // The north-star lake is an object store addressed by Hadoop URI
    // (s3a://...); file:// is the scheme-carrying stand-in the sandbox
    // can run, and it catches any java.io-style bare-path assumption —
    // the r6 verdict's upsert probe bug — because "file:///tmp/x" is NOT
    // a valid java.io path.
    val in = tmp("s4fin"); val ck = tmp("s4fck")
    val tableUri = "file://" + tmp("s4ftab").toString
    val lakeUri = "file://" + tmp("s4flake").toString
    writeLines(in, "u1.json", Seq(
      """{"k": "A", "v": 1, "payload": "a1"}""",
      """{"k": "B", "v": 1, "payload": "b1"}"""))
    def run(): Unit = {
      val src = spark.readStream.schema("k STRING, v LONG, payload STRING")
        .option("maxFilesPerTrigger", 1).json(in.toString)
      val q = S4Stream.upsertStream(src, "k", "v", tableUri, ck.toString, numBuckets = 8)
      q.awaitTermination()
    }
    run() // first batch: probe must see a nonexistent file:// table as empty
    def state(): Map[String, (Long, String)] = spark.read.parquet(tableUri)
      .select(col("k"), col("v"), col("payload"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(state() == Map("A" -> (1L, "a1"), "B" -> (1L, "b1")))

    // equal-version replay with a DIFFERENT payload: the documented
    // tiebreak (incoming wins) must apply deterministically
    writeLines(in, "u2.json", Seq("""{"k": "A", "v": 1, "payload": "a1-replay"}"""))
    run()
    assert(state() == Map("A" -> (1L, "a1-replay"), "B" -> (1L, "b1")))

    // the lake sink end to end over a scheme-carrying URI as well
    val lin = tmp("s4flin"); val lck = tmp("s4flck")
    writeLines(lin, "l.txt", Seq("rec-a", "rec-b"))
    val q = S4Stream.run(spark, S4Config(
      inputDir = lin.toString, mode = "line", sink = "lake",
      lakeDir = lakeUri, checkpointDir = lck.toString,
      availableNow = true, lakeFormat = "parquet"))
    q.awaitTermination()
    val back = spark.read.parquet(lakeUri).select(col("value"))
      .collect().map(_.getString(0)).toSeq
    assert(back.sorted == Seq("rec-a", "rec-b"))
  }

  test("size-based flush emits on threshold and keeps sub-threshold state (arbitrary state)") {
    val in = tmp("s4zin"); val ck = tmp("s4zck")
    // key a: 3 records x 10 bytes with threshold 25 -> one flush at 30,
    // counter resets; key b: 10 bytes, stays buffered (no output)
    writeLines(in, "z1.json", Seq(
      """{"k": "a", "value": "0123456789"}""",
      """{"k": "a", "value": "0123456789"}""",
      """{"k": "a", "value": "0123456789"}""",
      """{"k": "b", "value": "0123456789"}"""))
    val outDir = tmp("s4zout")
    val src = spark.readStream.schema("k STRING, value STRING").json(in.toString)
    def run(): Unit = {
      val q = S4Stream.sizeFlushStream(src, "k", thresholdBytes = 25L)
        .writeStream.format("parquet").option("path", outDir.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
        .start()
      q.awaitTermination()
    }
    run()
    val out = spark.read.parquet(outDir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq(("a", 3L, 30L)), s"exactly one flush for key a: $out")

    // next batch: key b tops past the threshold using its CARRIED state
    writeLines(in, "z2.json", Seq(
      """{"k": "b", "value": "01234567890123456789"}"""))
    run()
    val out2 = spark.read.parquet(outDir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out2 === Set(("a", 3L, 30L), ("b", 2L, 30L)),
      s"key b must flush with state carried across batches: $out2")
  }

  test("transformWithState size flush matches the flatMapGroupsWithState semantics") {
    val in = tmp("s4tin"); val ck = tmp("s4tck")
    writeLines(in, "t1.json", Seq(
      """{"k": "a", "value": "0123456789"}""",
      """{"k": "a", "value": "0123456789"}""",
      """{"k": "a", "value": "0123456789"}""",
      """{"k": "b", "value": "0123456789"}"""))
    val outDir = tmp("s4tout")
    val src = spark.readStream.schema("k STRING, value STRING").json(in.toString)
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(): Unit = {
        val q = S4Stream.sizeFlushStreamTws(src, "k", thresholdBytes = 25L)
          .writeStream.format("parquet").option("path", outDir.toString)
          .outputMode("append")
          .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
          .start()
        q.awaitTermination()
      }
      run()
      val out = spark.read.parquet(outDir.toString)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(out === Seq(("a", 3L, 30L)), s"exactly one flush for key a: $out")
      // state must carry across restarts exactly like the legacy form
      writeLines(in, "t2.json", Seq(
        """{"k": "b", "value": "01234567890123456789"}"""))
      run()
      val out2 = spark.read.parquet(outDir.toString)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(out2 === Set(("a", 3L, 30L), ("b", 2L, 30L)),
        s"key b must flush with state carried across batches: $out2")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-static enrichment joins the dimension without stream state") {
    val in = tmp("s4ein"); val ck = tmp("s4eck")
    writeLines(in, "e.json", Seq(
      """{"user_id": 1, "v": 10}""",
      """{"user_id": 2, "v": 20}""",
      """{"user_id": 99, "v": 30}"""))
    val src = spark.readStream.schema("user_id LONG, v LONG").json(in.toString)
    import spark.implicits._
    val dim = Seq((1L, "alice"), (2L, "bo")).toDF("user_id", "name")
    val q = S4Stream.enrichStream(src, dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
      .start()
    q.awaitTermination()
    val out = spark.table("enrich_out")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
    assert(out === Set((1L, Some("alice")), (2L, Some("bo")), (99L, None)))
  }

  test("event-time flush window aggregates with bounded state") {
    val in = tmp("s4win"); val ck = tmp("s4wck")
    val lines = (0 until 12).map { i =>
      val mm = f"${i * 2}%02d" // 0..22 min -> five 5-minute windows
      s"""{"value": "rec$i", "ts": "2024-01-01 00:$mm:30"}"""
    }
    writeLines(in, "w.json", lines)
    val src = spark.readStream.schema("value STRING, ts TIMESTAMP").json(in.toString)
    val q = S4Stream.flushWindowStream(src, "ts")
      .writeStream.format("memory").queryName("flush_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
      .start()
    q.awaitTermination()
    val out = spark.table("flush_out")
      .select(col("window.start").cast("string"), col("n_records"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out.size === 5) // 24 minutes of data / 5-minute tumbling
    assert(out.values.sum === 12L)
    assert(out("2024-01-01 00:00:00") === 3L) // :00:30, :02:30, :04:30
  }

  test("windowed approx_count_distinct in a stream tracks exact distinct per window") {
    // sketches compose with streaming aggregation: HLL partials merge
    // per window across micro-batches, state stays O(sketch) per window
    // instead of O(distinct keys) — the only viable distinct-count form
    // on an unbounded high-cardinality stream.
    val in = tmp("hllin"); val ck = tmp("hllck")
    val lines = (0 until 120).map { i =>
      val min = i % 10          // two 5-minute windows
      val user = i % 37         // 37 distinct users overall
      s"""{"user": $user, "ts": "2024-01-01 00:0$min:${if (i % 2 == 0) "10" else "40"}"}"""
    }
    writeLines(in, "h.json", lines)
    val src = spark.readStream.schema("user LONG, ts TIMESTAMP").json(in.toString)
    // complete mode so both windows surface under AvailableNow (append
    // would hold the last window open; watermarked append is already
    // covered by the flush-window test — the subject here is the sketch)
    val q = src
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(approx_count_distinct(col("user")).as("approx_users"),
        count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
      .start()
    q.awaitTermination()
    val rows = spark.table("hll_out")
      .select(col("window.start").cast("string"), col("approx_users"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.map(_._1).toSet ===
      Set("2024-01-01 00:00:00", "2024-01-01 00:05:00"))
    assert(rows.map(_._3).sum === 120L)
    // every window saw all 37 users (120 rows round-robin over 37);
    // HLL++ at default rsd 5% must land within 15%
    rows.foreach { case (w, approx, _) =>
      assert(math.abs(approx - 37.0) / 37.0 <= 0.15,
        s"window $w: approx $approx vs exact 37")
    }
  }

  test("continuous top-k similarity: running top-k maintained across batches") {
    import spark.implicits._
    import graft.streaming.VectorStream
    val in = tmp("vtin"); val ck = tmp("vtck"); val outDir = tmp("vtout")
    val probes = Seq((100L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("q_id", "q_emb")
    def run(): Unit = {
      val src = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(in.toString)
      val q = VectorStream.streamingTopK(src, probes, k = 2).toDF()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) b.write.mode("append").parquet(outDir.toString)
        }
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: cos(v1)=1.0, cos(v2)=0, cos(v3)~0.707 -> top2 = {1, 3}
    writeLines(in, "v1.json", Seq(
      """{"vec_id": 1, "embedding": [1.0, 0.0, 0.0, 0.0]}""",
      """{"vec_id": 2, "embedding": [0.0, 1.0, 0.0, 0.0]}""",
      """{"vec_id": 3, "embedding": [0.5, 0.5, 0.0, 0.0]}"""))
    run()
    // batch 2: cos(v4)~0.994 displaces v3 (state must carry the old top-k)
    writeLines(in, "v2.json", Seq(
      """{"vec_id": 4, "embedding": [0.9, 0.1, 0.0, 0.0]}"""))
    run()
    val entered = spark.read.parquet(outDir.toString)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(entered === Set(1L, 3L, 4L), s"entries: $entered (2 never enters)")
    val fin = VectorStream.finalTopK(spark.read.parquet(outDir.toString), k = 2)
      .select(col("rank"), col("vec_id")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fin === Map(1 -> 1L, 2 -> 4L), s"final top-2: $fin")
    // batch 3 (ADVICE r5): vec 1 RE-ARRIVES with a changed embedding
    // (cos ~0.99987, still the leader). One id must hold at most one of
    // the k state slots — an unreduced merge would keep BOTH versions of
    // vec 1, silently evicting vec 4 from state
    writeLines(in, "v3.json", Seq(
      """{"vec_id": 1, "embedding": [0.99, 0.01, 0.0, 0.0]}"""))
    run()
    // batch 4: v6 (cos ~0.9962) beats v4 (0.994) -> must ENTER the top-2;
    // with a doubled vec 1 occupying both slots it never would
    writeLines(in, "v4.json", Seq(
      """{"vec_id": 6, "embedding": [0.92, 0.08, 0.0, 0.0]}"""))
    run()
    val entered4 = spark.read.parquet(outDir.toString)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(entered4.contains(6L),
      s"re-arrived id must not consume two top-k slots: $entered4")
    val fin4 = VectorStream.finalTopK(spark.read.parquet(outDir.toString), k = 2)
      .select(col("rank"), col("vec_id")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fin4 === Map(1 -> 1L, 2 -> 6L), s"final top-2 after update: $fin4")
  }

  test("streaming as-of enrichment: cross-batch late signup with earlier event time wins") {
    import graft.streaming.AsofStream
    val lin = tmp("asofl"); val rin = tmp("asofr")
    val ck = tmp("asofck"); val outDir = tmp("asofout")
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def run(): Unit = {
      val left = spark.readStream
        .schema("key STRING, ts TIMESTAMP, value STRING").json(lin.toString)
      val right = spark.readStream
        .schema("key STRING, ts TIMESTAMP, value STRING").json(rin.toString)
      val q = AsofStream.asof(left, right, "key", "ts", "ts", "value", "value",
        delay = "5 minutes")
        .toDF().writeStream.format("parquet").option("path", outDir.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.toString)
        .start()
      q.awaitTermination()
    }
    try {
      // batch 1: two purchases; u1 has one prior signup, u2 none
      writeLines(lin, "l1.json", Seq(
        """{"key": "u1", "ts": "2024-01-01 00:10:00", "value": "p1"}""",
        """{"key": "u2", "ts": "2024-01-01 00:06:00", "value": "p0"}"""))
      writeLines(rin, "r1.json", Seq(
        """{"key": "u1", "ts": "2024-01-01 00:05:00", "value": "s0"}"""))
      run()
      // nothing may emit yet: the watermark after batch 1 is 00:05
      // (batch max 00:10 minus the delay), before both purchases
      assert(!java.nio.file.Files.exists(outDir) ||
        spark.read.parquet(outDir.toString).isEmpty,
        "lefts must stay buffered until the watermark passes them")
      // batch 2, AFTER the purchases arrived: a signup for u1 with an
      // EARLIER event time than p1 but later than s0 — the late-arrival
      // case an eager (emit-on-sight) join gets wrong. Plus a watermark
      // advancer on an unrelated key; once the watermark passes the
      // purchases, the event-time timers flush them (AvailableNow runs a
      // finalization batch after the watermark update, so the flush lands
      // within this run).
      writeLines(rin, "r2.json", Seq(
        """{"key": "u1", "ts": "2024-01-01 00:08:00", "value": "s1"}""",
        """{"key": "u9", "ts": "2024-01-01 00:30:00", "value": "adv"}"""))
      run()
      // batch 3: a further advancer; u1/u2 have no new input and were
      // already flushed — nothing may emit twice
      writeLines(rin, "r3.json", Seq(
        """{"key": "u9", "ts": "2024-01-01 01:00:00", "value": "adv"}"""))
      run()
      val out = spark.read.parquet(outDir.toString)
        .collect().map(r => r.getString(0) ->
          ((r.getString(2), Option(r.getTimestamp(3)).map(_.toString).orNull,
            r.getString(4)))).toMap
      assert(out.size === 2, s"both purchases decided exactly once: $out")
      assert(out("u1") === (("p1", "2024-01-01 00:08:00.0", "s1")),
        s"the late-arriving earlier-event-time signup must win: $out")
      assert(out("u2") === (("p0", null, null)),
        s"no signup at-or-before p0 -> left-outer null: $out")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming minhash near-dup dedup: cross-batch duplicate flagged, novel kept") {
    import graft.streaming.NearDupStream
    val in = tmp("ndin"); val ck = tmp("ndck"); val outDir = tmp("ndout")
    def run(): Unit = {
      val src = spark.readStream
        .schema("doc_id LONG, text STRING, ts TIMESTAMP").json(in.toString)
      val flags = NearDupStream.bandFlags(src, "ts",
        watermark = "1 hour", horizonMs = 24L * 3600 * 1000)
      val q = flags.toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty)
            NearDupStream.keepDecisions(b)
              .write.mode("append").parquet(outDir.toString)
        }
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven eight nine"
    writeLines(in, "b1.json", Seq(
      s"""{"doc_id": 1, "text": "$textA", "ts": "2024-01-01 00:00:01"}""",
      s"""{"doc_id": 2, "text": "$textA", "ts": "2024-01-01 00:00:02"}""",
      s"""{"doc_id": 3, "text": "$textB", "ts": "2024-01-01 00:00:03"}"""))
    run()
    // second run restarts from the checkpoint: bucket state must carry,
    // so doc 4 (identical to doc 1 from the PREVIOUS batch) is a dup
    writeLines(in, "b2.json", Seq(
      s"""{"doc_id": 4, "text": "$textA", "ts": "2024-01-01 00:10:00"}""",
      s"""{"doc_id": 5, "text": "totally different words here now ok", "ts": "2024-01-01 00:10:01"}"""))
    run()
    val dec = spark.read.parquet(outDir.toString)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(dec(1) === ((false, -1L)), s"doc 1 is the keeper: $dec")
    assert(dec(2) === ((true, 1L)), s"doc 2 duplicates doc 1 in-batch: $dec")
    assert(dec(3) === ((false, -1L)), s"doc 3 is novel: $dec")
    assert(dec(4) === ((true, 1L)), s"doc 4 duplicates doc 1 across batches: $dec")
    assert(dec(5) === ((false, -1L)), s"doc 5 is novel: $dec")
    // a row whose event time is behind the advanced watermark is DROPPED
    // before the stateful operator (FlatMapGroupsWithStateExec filters
    // late input under EventTimeTimeout) — the within-watermark contract:
    // no crash, no claim reset, no decision row for the late doc
    writeLines(in, "b3.json", Seq(
      s"""{"doc_id": 6, "text": "$textA", "ts": "2023-12-31 20:00:00"}"""))
    run()
    val dec3 = spark.read.parquet(outDir.toString)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(!dec3.contains(6L),
      s"late doc 6 must be dropped by the watermark, not decided: $dec3")
    assert(dec3(4) === ((true, 1L)), "earlier decisions unchanged")
  }

  test("indexed CLUSTER stream: components maintained across runs, bridges amended") {
    import spark.implicits._
    val in = tmp("s4cin"); val lake = tmp("s4clake"); val ck = tmp("s4cck")
    val idx = tmp("s4cidx").toString
    // base token set T; doc 10 and doc 20 each swap out a DIFFERENT pair
    // of tokens: J(10, 20) = 16/24 ≈ 0.67 < 0.8 (separate clusters), but
    // the unmodified T has J = 18/22 ≈ 0.82 with BOTH — the bridge text
    val base = (0 until 20).map(i => s"cstok_$i")
    def swapped(tag: String, at: Seq[Int]) =
      base.zipWithIndex.map { case (t, i) =>
        if (at.contains(i)) s"x${tag}_$i" else t }.mkString(" ")
    val txt10 = swapped("a", Seq(0, 1)); val txt20 = swapped("b", Seq(2, 3))
    graft.operators.ClusterIndex.build(
      Seq((10L, txt10), (20L, txt20)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    def run(): Unit = {
      val src = spark.readStream.schema("doc_id LONG, text STRING").json(in.toString)
      S4Stream.indexedClusterStream(src, "doc_id", "text", idx,
        lake.toString, ck.toString, availableNow = true).awaitTermination()
    }
    // batch 0: doc 30 re-crawls doc 10's text (joins its cluster),
    // doc 40 is a novel singleton
    writeLines(in, "b1.json", Seq(
      s"""{"doc_id": 30, "text": "$txt10"}""",
      s"""{"doc_id": 40, "text": "${(0 until 20).map(i => s"nv_$i").mkString(" ")}"}"""))
    run()
    def assign(): Map[Long, Long] =
      graft.operators.ClusterIndex.assignments(spark, idx, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign() === Map(10L -> 10L, 20L -> 20L, 30L -> 10L, 40L -> 40L))
    // batch 1 (new run, same checkpoint): doc 15 carries the bridge text
    // — clusters {10,30} and {20} must merge to component 10, AMENDING
    // doc 20's row in the authoritative assign table
    writeLines(in, "b2.json", Seq(
      s"""{"doc_id": 15, "text": "${base.mkString(" ")}"}"""))
    run()
    assert(assign() === Map(10L -> 10L, 15L -> 10L, 20L -> 10L,
      30L -> 10L, 40L -> 40L),
      s"bridge must merge across batches and amend doc 20: ${assign()}")
    // the audit feed is per-batch assignment-at-ingest: batch 0 predates
    // the bridge, so it still shows 40 -> 40 / 30 -> 10; batch 1 shows
    // the merged component
    val b0 = spark.read.parquet(s"$lake/batch=0").select("doc_id", "component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b0 === Map(30L -> 10L, 40L -> 40L), s"batch-0 feed: $b0")
    val b1 = spark.read.parquet(s"$lake/batch=1").select("doc_id", "component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === Map(15L -> 10L), s"batch-1 feed: $b1")
    // fingerprint tracks the full corpus of record across stream appends
    val rec = Seq((10L, txt10), (20L, txt20),
      (30L, txt10), (40L, (0 until 20).map(i => s"nv_$i").mkString(" ")),
      (15L, base.mkString(" "))).toDF("doc_id", "text")
    assert(graft.operators.ClusterIndex.isFresh(spark, idx, rec, "doc_id", "text"))
  }

  test("indexed cluster batch replay: marker skip and append re-admission") {
    import spark.implicits._
    val lake = tmp("s4crlake"); val idx = tmp("s4cridx").toString
    def t(seed: Int) = (0 until 20).map(i => s"crtok${seed}_$i").mkString(" ")
    graft.operators.ClusterIndex.build(
      Seq((1L, t(1))).toDF("doc_id", "text"), "doc_id", "text", idx)
    val batch = Seq((2L, t(1)), (3L, t(3))).toDF("doc_id", "text")
    S4Stream.processIndexedClusterBatch(batch, 0L, "doc_id", "text",
      idx, lake.toString, runKey = "manual")
    def state() = (
      graft.operators.ClusterIndex.assignments(spark, idx, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      graft.operators.ClusterIndex.assignments(spark, idx, "doc_id").count(),
      spark.read.parquet(s"$lake/batch=0").select("doc_id", "component")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val s1 = state()
    assert(s1._1 === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // replay with the marker intact: skipped outright
    S4Stream.processIndexedClusterBatch(batch, 0L, "doc_id", "text",
      idx, lake.toString, runKey = "manual")
    assert(state() === s1)
    // crash window: marker lost after the append — the replay re-runs,
    // append re-admits the same (tag, delta) pair, dynamic overwrite
    // rewrites the same partitions, the fingerprint does not re-merge
    val marker = new org.apache.hadoop.fs.Path(s"$idx/applied/ckmanual_b0")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
    S4Stream.processIndexedClusterBatch(batch, 0L, "doc_id", "text",
      idx, lake.toString, runKey = "manual")
    assert(state() === s1, "un-markered replay must converge to the same state")
    val rec = Seq((1L, t(1)), (2L, t(1)), (3L, t(3))).toDF("doc_id", "text")
    assert(graft.operators.ClusterIndex.isFresh(spark, idx, rec, "doc_id", "text"),
      "replay must not drift the fingerprint")
  }

  test("indexed cluster stream: stable-id re-crawl is dropped, first write wins") {
    import spark.implicits._
    val lake = tmp("s4cglake"); val idx = tmp("s4cgidx").toString
    def t(seed: Int) = (0 until 20).map(i => s"cgtok${seed}_$i").mkString(" ")
    graft.operators.ClusterIndex.build(
      Seq((1L, t(1))).toDF("doc_id", "text"), "doc_id", "text", idx)
    // batch 0: doc 2 is novel text B — its own singleton
    S4Stream.processIndexedClusterBatch(
      Seq((2L, t(2))).toDF("doc_id", "text"), 0L, "doc_id", "text",
      idx, lake.toString, runKey = "g")
    // batch 1 RE-CRAWLS doc 2 with text that near-dups doc 1 — without
    // the guard, node 2 would gain an edge to cluster 1 and falsely
    // merge {2} into {1}. Doc 4 in the same batch is genuinely novel.
    S4Stream.processIndexedClusterBatch(
      Seq((2L, t(1)), (4L, t(4))).toDF("doc_id", "text"), 1L, "doc_id", "text",
      idx, lake.toString, runKey = "g")
    val rows = graft.operators.ClusterIndex.assignments(spark, idx, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted
    assert(rows === Seq(1L -> 1L, 2L -> 2L, 4L -> 4L),
      s"re-crawl must not duplicate ids or merge clusters: ${rows.toSeq}")
    // the batch-1 feed admits only the first-seen id
    val b1 = spark.read.parquet(s"$lake/batch=1").select("doc_id", "component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === Map(4L -> 4L), s"batch-1 feed: $b1")
    // fingerprint tracks the FIRST-WRITE corpus of record
    val rec = Seq((1L, t(1)), (2L, t(2)), (4L, t(4))).toDF("doc_id", "text")
    assert(graft.operators.ClusterIndex.isFresh(spark, idx, rec, "doc_id", "text"),
      "corpus of record is first-write-wins")
  }

  test("cluster takedown stream: blind + feed-scrubbed + bridge-split immediately, replay converges") {
    // Bridge fixture: docs 10/20 are separate clusters (J ≈ 0.67), the
    // stream-ingested doc 15 carries the unmodified base text (J ≈ 0.82
    // with both) and merges them — then a streaming LOGICAL takedown of
    // 15 over the cluster feed must blind probes/assignments at once,
    // scrub the feed, tombstone a never-ingested victim's content, and
    // leave the physical bridge-split to compact()'s reclaim.
    import spark.implicits._
    val in = tmp("cktin"); val lake = tmp("cktlake"); val ck = tmp("cktck")
    val idx = tmp("cktidx").toString
    val base = (0 until 20).map(i => s"ckttok_$i")
    def swapped(tag: String, at: Seq[Int]) =
      base.zipWithIndex.map { case (t, i) =>
        if (at.contains(i)) s"x${tag}_$i" else t }.mkString(" ")
    val txt10 = swapped("a", Seq(0, 1)); val txt20 = swapped("b", Seq(2, 3))
    val bridge = base.mkString(" ")
    val never = (0 until 20).map(i => s"nvr_$i").mkString(" ")
    graft.operators.ClusterIndex.build(
      Seq((10L, txt10), (20L, txt20)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    // ingest the bridge through the production cluster loop
    S4Stream.processIndexedClusterBatch(
      Seq((15L, bridge)).toDF("doc_id", "text"), 0L, "doc_id", "text",
      idx, lake.toString, runKey = "cin")
    def assign(): Map[Long, Long] =
      graft.operators.ClusterIndex.assignments(spark, idx, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign() === Map(10L -> 10L, 15L -> 10L, 20L -> 10L))
    // the takedown QUEUE through the real streaming wiring: the feed
    // carries (id, text); 15 arrives twice (an at-least-once upstream)
    // and id 99 was never ingested
    writeLines(in, "t1.json", Seq(
      s"""{"doc_id": 15, "text": "$bridge"}""",
      s"""{"doc_id": 15, "text": "$bridge"}""",
      s"""{"doc_id": 99, "text": "$never"}"""))
    val src = spark.readStream.schema("doc_id LONG, text STRING").json(in.toString)
    val t = rtbfTargets("cluster", idx, lake)
    S4Stream.rtbfPurgeStream(src, t, ck.toString, availableNow = true,
      logical = true).awaitTermination()
    // blind immediately: 15 leaves assignments/knownIds, and the SERVED
    // map already carries the bridge-split (assignments() re-splits the
    // victims' components read-only from the edge log)
    assert(assign() === Map(10L -> 10L, 20L -> 20L),
      s"victim blind AND bridge-split served immediately: ${assign()}")
    val known = graft.operators.ClusterIndex.knownIds(spark, idx,
      Seq(10L, 15L, 99L).toDF("doc_id"), "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(known === Set(10L), s"tombstoned id must not be known: $known")
    // feed scrubbed (the victim was the partition's only row, so the
    // scrub may have dropped the emptied batch=0 dir outright)
    val feedDir = new java.io.File(s"$lake/batch=0")
    val feed =
      if (!feedDir.isDirectory) Set.empty[Long]
      else spark.read.parquet(s"$lake/batch=0")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(feed === Set.empty[Long], s"victim must leave the feed: $feed")
    // the never-ingested victim's CONTENT is tombstoned: a late ingest
    // of the same (id, text) is dropped
    S4Stream.processIndexedClusterBatch(
      Seq((99L, never)).toDF("doc_id", "text"), 1L, "doc_id", "text",
      idx, lake.toString, runKey = "cin")
    assert(!assign().contains(99L),
      "tombstoned content must not ingest after the takedown")
    // reclaim: compact splits the bridged component, and the index
    // equals a fresh build on the survivors (the twice-delivered victim
    // subtracted once)
    graft.operators.ClusterIndex.compact(spark, idx)
    val survivors = Seq((10L, txt10), (20L, txt20)).toDF("doc_id", "text")
    def converged(): Unit = {
      assert(assign() === Map(10L -> 10L, 20L -> 20L))
      assert(graft.operators.ClusterIndex.isFresh(spark, idx, survivors,
        "doc_id", "text"), "fingerprint must track the survivors exactly")
    }
    converged()
    // the completed batch replays after the reclaim: a manifest resume
    // that must not rewrite the logical tombstones (the freed id would
    // be re-hidden)
    S4Stream.processRtbfPurgeBatch(
      Seq((15L, bridge), (99L, never)).toDF("doc_id", "text"), 0L, t,
      purgeRunKey(lake), logical = true)
    converged()
    assert(graft.operators.LogicalDelete.pendingBatches(
      spark.sparkContext.hadoopConfiguration, idx).isEmpty,
      "completed replay must not rewrite the logical tombstone batch")
  }

  test("cluster takedown: an old feed without text is refused before anything is written") {
    import spark.implicits._
    val lake = tmp("ckold"); val idx = tmp("ckoldidx").toString
    Seq((15L, 10L)).toDF("doc_id", "component").write.parquet(s"$lake/batch=0")
    val ex = intercept[IllegalStateException](S4Stream.processRtbfPurgeBatch(
      Seq(15L).toDF("doc_id"), 0L, rtbfTargets("cluster", idx, lake), "old"))
    assert(ex.getMessage.contains(lake.toString) &&
      ex.getMessage.contains("no text column"), ex.getMessage)
    Seq(s"$idx/removed", s"$lake/_rtbf").foreach(d =>
      assert(!Files.exists(java.nio.file.Paths.get(d)), s"$d was written"))
  }

  test("cluster takedown: PHYSICAL mode splits the bridge without waiting for compact") {
    // logical=false routes the index leg through ClusterIndex.remove —
    // bytes leave disk and the bridged component splits inside the
    // batch, at the documented full-rewrite lease cost
    import spark.implicits._
    val lake = tmp("cktp"); val idx = tmp("cktpidx").toString
    val base = (0 until 20).map(i => s"cptok_$i")
    def swapped(tag: String, at: Seq[Int]) =
      base.zipWithIndex.map { case (t, i) =>
        if (at.contains(i)) s"x${tag}_$i" else t }.mkString(" ")
    val txt10 = swapped("a", Seq(0, 1)); val txt20 = swapped("b", Seq(2, 3))
    val bridge = base.mkString(" ")
    graft.operators.ClusterIndex.build(
      Seq((10L, txt10), (20L, txt20)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    S4Stream.processIndexedClusterBatch(
      Seq((15L, bridge)).toDF("doc_id", "text"), 0L, "doc_id", "text",
      idx, lake.toString, runKey = "cp")
    def assign(): Map[Long, Long] =
      graft.operators.ClusterIndex.assignments(spark, idx, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign() === Map(10L -> 10L, 15L -> 10L, 20L -> 10L))
    S4Stream.processRtbfPurgeBatch(Seq(15L).toDF("doc_id"), 0L,
      rtbfTargets("cluster", idx, lake), "cptk")
    assert(assign() === Map(10L -> 10L, 20L -> 20L),
      s"physical takedown must split the bridge in-batch: ${assign()}")
    assert(graft.operators.LogicalDelete.pendingBatches(
      spark.sparkContext.hadoopConfiguration, idx).isEmpty,
      "the physical path must leave no logical tombstones behind")
    assert(graft.operators.ClusterIndex.isFresh(spark, idx,
      Seq((10L, txt10), (20L, txt20)).toDF("doc_id", "text"),
      "doc_id", "text"), "fingerprint must track the survivors")
  }

  test("takedown before the first ingest: stages empty, still tombstones, late ingest converges") {
    // a takedown stream can legitimately start before any ingest batch
    // landed a lake subtree — nothing resolves (no throw on the
    // unreadable lake), and a feed that carries the content still
    // tombstones it, so the content never lands
    import spark.implicits._
    import graft.operators.TermIndex
    val lake = tmp("tpre_lake"); val idx = tmp("tpre_idx").toString
    TermIndex.build(Seq((1L, "seed corpus words")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    S4Stream.processRtbfPurgeBatch(
      Seq((7L, "forget this content")).toDF("doc_id", "text"), 0L,
      rtbfTargets("term", idx, lake), "tpd")
    // a late ingest of the forgotten content is dropped
    S4Stream.processTermIngestBatch(
      Seq((7L, "forget this content")).toDF("doc_id", "text"), 0L,
      "doc_id", "text", idx, lake.toString, runKey = "tpi")
    assert(TermIndex.knownIds(spark, idx, Seq(7L).toDF("doc_id"), "doc_id")
      .isEmpty, "tombstoned-before-ingest content must never index")
    assert(spark.read.parquet(s"$lake/batch=0").count() == 0L,
      "tombstoned-before-ingest content must never land in the lake")
  }

  test("term family streams: first-write-wins ingest, takedown blind + survivor-exact, replays converge") {
    // the term family's streaming legs: ingest appends tf/dl
    // statistics per micro-batch (unique-id contract — a stable-id
    // re-crawl would double its BM25 mass, so first write wins), the
    // takedown stream runs a LOGICAL purge (TermIndex.logicalRemove as
    // the index leg), and both replay windows converge without touching
    // committed index state.
    import spark.implicits._
    import graft.operators.TermIndex
    val in = tmp("tmin"); val lake = tmp("tmlake"); val ck = tmp("tmck")
    val idx = tmp("tmidx").toString
    val ta = "alpha beta gamma"; val tb = "beta delta epsilon"
    val tc = "gamma alpha zeta"; val td = "delta zeta eta"
    val never = "theta iota kappa"
    val queries = Seq((1L, "beta gamma"), (2L, "delta zeta")).toDF("query_id", "q")
    def top(dir: String): Seq[(Long, Int, Long, Double)] =
      TermIndex.topK(spark, dir, queries).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    def fresh(docs: Seq[(Long, String)]): Seq[(Long, Int, Long, Double)] = {
      val d = tmp("tmf").toString
      TermIndex.build(docs.toDF("doc_id", "text"), "doc_id", "text", d)
      top(d)
    }
    TermIndex.build(Seq((1L, ta), (2L, tb)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    // ---- ingest batch 0 through the production loop: two fresh docs
    // plus a stable-id re-crawl of 1, which must NOT re-enter
    S4Stream.processTermIngestBatch(
      Seq((3L, tc), (4L, td), (1L, "changed recrawl content"))
        .toDF("doc_id", "text"),
      0L, "doc_id", "text", idx, lake.toString, runKey = "tin")
    assert(top(idx) === fresh(Seq((1L, ta), (2L, tb), (3L, tc), (4L, td))),
      "stream-appended corpus must rank like a fresh union build")
    assert(spark.read.parquet(s"$lake/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(3L, 4L),
      "first write wins: the re-crawl must not land in the lake feed")
    // ---- takedown through the real stream wiring: 3 (ingested) and a
    // never-ingested victim 99 whose content must still tombstone
    writeLines(in, "t1.json", Seq(
      s"""{"doc_id": 3, "text": "$tc"}""",
      s"""{"doc_id": 99, "text": "$never"}"""))
    val src = spark.readStream.schema("doc_id LONG, text STRING").json(in.toString)
    val t = rtbfTargets("term", idx, lake)
    S4Stream.rtbfPurgeStream(src, t, ck.toString, availableNow = true,
      logical = true).awaitTermination()
    val survivors = Seq((1L, ta), (2L, tb), (4L, td))
    val survivorTop = fresh(survivors)
    assert(top(idx) === survivorTop,
      "takedown must be blind AND survivor-exact (df/N/avgdl) immediately")
    assert(spark.read.parquet(lake.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(4L),
      "the victim must leave the lake")
    // late ingest of the tombstoned content is dropped
    S4Stream.processTermIngestBatch(
      Seq((99L, never)).toDF("doc_id", "text"), 1L, "doc_id", "text",
      idx, lake.toString, runKey = "tin")
    assert(top(idx) === survivorTop,
      "tombstoned content must not ingest after the takedown")
    // ---- reclaim
    TermIndex.compact(spark, idx)
    assert(top(idx) === survivorTop)
    assert(TermIndex.isFresh(spark, idx, survivors.toDF("doc_id", "text"),
      "doc_id", "text"), "fingerprint must track the survivors")
    // ---- crash window A: the completed takedown batch replays (its
    // checkpoint commit lost) — it resumes from the manifest and no-ops
    S4Stream.processRtbfPurgeBatch(
      Seq((3L, tc), (99L, never)).toDF("doc_id", "text"), 0L, t,
      purgeRunKey(lake), logical = true)
    assert(top(idx) === survivorTop)
    assert(graft.operators.LogicalDelete.pendingBatches(
      spark.sparkContext.hadoopConfiguration, idx).isEmpty,
      "completed replay must not rewrite the tombstone batch")
    // ---- crash window B: committed INGEST batch replays after the
    // takedown (marker lost) — the index must stay untouched and the
    // lake feed rebuild to the ids the index still serves
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$idx/applied/cktin_b0"), false))
    S4Stream.processTermIngestBatch(
      Seq((3L, tc), (4L, td), (1L, "changed recrawl content"))
        .toDF("doc_id", "text"),
      0L, "doc_id", "text", idx, lake.toString, runKey = "tin")
    assert(top(idx) === survivorTop,
      "a committed ingest replay must not mutate the index")
    assert(spark.read.parquet(s"$lake/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(4L),
      "the replayed feed must hold only ids the index still serves")
  }

  test("term takedown stream: the physical path erases rows in-batch and leaves no tombstone debt (r17)") {
    // a physical purge routes the index leg through the r17
    // TermIndex.remove — the strict-SLA variant: the victims' postings/
    // dl rows leave DISK inside the batch (no compact needed), scores
    // equal a fresh survivor build, and no logical-deletion debt pends
    import spark.implicits._
    import graft.operators.{IndexMaintenance, LogicalDelete, TermIndex}
    val lake = tmp("tphys_lake"); val idx = tmp("tphys_idx").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val ta = "alpha beta gamma"; val tb = "beta delta epsilon"
    val tc = "gamma alpha zeta"
    val queries = Seq((1L, "gamma zeta"), (2L, "beta delta")).toDF("query_id", "q")
    def top(dir: String): Seq[(Long, Int, Long, Double)] =
      TermIndex.topK(spark, dir, queries).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    TermIndex.build(Seq((1L, ta), (2L, tb)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    S4Stream.processTermIngestBatch(
      Seq((3L, tc)).toDF("doc_id", "text"), 0L, "doc_id", "text",
      idx, lake.toString, runKey = "tpi")
    S4Stream.processRtbfPurgeBatch(
      Seq((3L, tc)).toDF("doc_id", "text"), 0L,
      rtbfTargets("term", idx, lake), "tpt")
    val fresh = tmp("tphys_f").toString
    TermIndex.build(Seq((1L, ta), (2L, tb)).toDF("doc_id", "text"),
      "doc_id", "text", fresh)
    spark.conf.set("graft.term.checkStats", "true")
    try assert(top(idx) === top(fresh),
      "physical stream takedown must equal a fresh survivor build")
    finally spark.conf.unset("graft.term.checkStats")
    val root = IndexMaintenance.liveRoot(conf, idx)
    Seq("dl", "postings").foreach { t =>
      assert(spark.read.parquet(s"$root/$t")
        .filter(col("doc_id") === 3L).count() == 0L,
        s"victim rows must be GONE from $t in-batch, not at the next compact")
    }
    assert(LogicalDelete.pendingBatches(conf, idx).isEmpty,
      "the physical path must leave no logical-deletion debt")
    // the content tombstone still guards a crashed ingest's replay
    S4Stream.processTermIngestBatch(
      Seq((3L, tc)).toDF("doc_id", "text"), 1L, "doc_id", "text",
      idx, lake.toString, runKey = "tpi")
    assert(TermIndex.knownIds(spark, idx, Seq(3L).toDF("doc_id"), "doc_id")
      .isEmpty, "removed content must not re-ingest")
  }
}
