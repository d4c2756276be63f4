package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.S4Stream

/** `s4_ingest`: JSON log lines through `S4Stream.run` into the gzip
  * lake, first as drains of a fixed backlog under `availableNow`, then
  * open loop: one generator thread moves pre-written files into the
  * watched directory on a fixed schedule while the query runs with a
  * `0 seconds` trigger. Every micro-batch's progress event is kept. */
object IngestRun {

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val cap = ctx.int("max_record_bytes")
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    // the phase of the query being started: listeners hear of a start
    // before `start()` returns, so every progress event finds its phase
    @volatile var starting = ""
    val phaseOf = new ConcurrentHashMap[java.util.UUID, String]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        phaseOf.put(e.id, starting)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ts = Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress.add(Map("phase" -> Option(phaseOf.get(p.id)).getOrElse("?"),
          "batch" -> p.batchId, "rows" -> p.numInputRows, "ts_ms" -> ts,
          "end_ms" -> (ts + d.getOrElse("triggerExecution", 0L)),
          "durations_ms" -> d))
      }
    }
    spark.streams.addListener(listener)

    def cfg(in: String, lake: String, availableNow: Boolean) = S4Stream.S4Config(
      inputDir = in, mode = "json", sink = "lake", lakeDir = lake,
      availableNow = availableNow, flushInterval = "0 seconds",
      maxRecordBytes = cap)

    def drain(in: String, lake: String, phase: String): Double = Main.timed {
      starting = phase
      S4Stream.run(spark, cfg(in, lake, availableNow = true)).awaitTermination()
    }._1

    // set-up: start, drain and stop the query on a small backlog shaped
    // like a timed one, three times (JIT, codegen and file-source
    // start-up land here)
    val setup = (0 until ctx.int("warm_parts")).map { r =>
      ctx.span("setup.warm_drain")(drain(ctx.input.resolve(s"warm$r").toString,
        ctx.dir(s"lake_warm$r"), "warm"))
    }

    // timed from the progress events: first batch start to last commit
    val drains = 0 until ctx.int("drain_parts")
    drains.foreach { p =>
      ctx.span("streaming.drain")(drain(ctx.input.resolve(s"drain$p").toString,
        ctx.dir(s"lake_drain$p"), s"drain$p"))
    }

    starting = "paced"
    val paced = pacedPhase(ctx, cfg(ctx.dir("watch"), ctx.dir("lake_paced"),
      availableNow = false), progress)
    spark.streams.removeListener(listener)

    // output side, outside every timed window. Oversize lines are those
    // the engine's record cap drops; malformed ones are the rest of what
    // it dropped: lines under the cap minus lines the lakes committed
    val (lakes, nIn, nCapped) = ctx.span("check") {
      val inputs = drains.map(p => ctx.input.resolve(s"drain$p").toString) :+
        ctx.dir("watch")
      val lines = spark.read.text(inputs: _*)
      (lakeStats(ctx, drains.map(p => s"lake_drain$p") :+ "lake_paced"),
        lines.count(), S4Stream.validated(lines, "line", cap).count())
    }
    val accepted = lakes.values.map(_("lines").asInstanceOf[Long]).sum

    Map("setup_s" -> setup,
      "paced" -> paced,
      "progress" -> progress.asScala.toSeq,
      "lakes" -> lakes,
      "drops" -> Map("lines_in" -> nIn, "oversize" -> (nIn - nCapped),
        "malformed" -> (nCapped - accepted)))
  }

  /** The open-loop phase. Returns one record per paced file: whether it
    * is one of the untimed warm-up files offered first, when it was due,
    * when the generator actually dropped it, and the end time of the
    * micro-batch that committed it (-1 if none did). */
  private def pacedPhase(ctx: Ctx, cfg: S4Stream.S4Config,
                         progress: java.util.Collection[Map[String, Any]]): Map[String, Any] = {
    val staging = ctx.input.resolve("paced")
    val watch = Paths.get(cfg.inputDir)
    Files.createDirectories(watch)
    val files = Files.list(staging).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    val totalLines = files.map(f => Files.readAllLines(f).size.toLong).sum
    val intervalMs = (ctx.dbl("paced_interval_s") * 1000).toLong
    val warm = ctx.int("paced_warm_files")

    val dropped = new Array[Long](files.size)
    var due = IndexedSeq.empty[Long]
    // the span covers the query's whole life: its stream thread starts
    // inside it and so carries the span's id into every job it runs
    val q = ctx.span("streaming.paced") {
      val q = S4Stream.run(ctx.spark, cfg)
      // wait for the first (empty) trigger, so no query start-up is timed
      val startBy = System.currentTimeMillis() + 30000
      while (q.status.isTriggerActive ||
          q.recentProgress.isEmpty && !q.status.message.contains("Waiting")) {
        require(System.currentTimeMillis() < startBy, "paced query did not start")
        Thread.sleep(20)
      }
      val t0 = System.currentTimeMillis() + 200
      due = files.indices.map(i => t0 + i * intervalMs)
      val gen = new Thread(() => files.zipWithIndex.foreach { case (f, i) =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(f, watch.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        dropped(i) = System.currentTimeMillis()
      }, "perfbench-generator")
      gen.start()
      gen.join()
      // grace: the backlog may drain for as long as the phase itself ran
      val graceBy = System.currentTimeMillis() + math.max(5000L, files.size * intervalMs)
      def pacedRows = progress.asScala.filter(_("phase") == "paced")
        .map(_("rows").asInstanceOf[Long]).sum
      while (pacedRows < totalLines && System.currentTimeMillis() < graceBy) Thread.sleep(20)
      q.stop()
      q
    }
    val batchOf = committedFiles(s"${cfg.lakeDir}/_checkpoint/sources/0")
    val endOf = progress.asScala.filter(_("phase") == "paced")
      .map(p => p("batch").asInstanceOf[Long] -> p("end_ms").asInstanceOf[Long]).toMap
    Map("interval_s" -> intervalMs / 1e3,
      "files" -> files.indices.map { i =>
        val b = batchOf.get(files(i).getFileName.toString)
        Map("warm" -> (i < warm), "due_ms" -> due(i), "drop_ms" -> dropped(i),
          "batch" -> b.getOrElse(-1L),
          "commit_ms" -> b.flatMap(endOf.get).getOrElse(-1L))
      })
  }

  private val PathRe = "\"path\":\"([^\"]*)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  /** File name -> batch id, from the file source's metadata log in the
    * checkpoint (plain and compacted log files alike). */
  private def committedFiles(log: String): Map[String, Long] = {
    val dir = Paths.get(log)
    if (!Files.isDirectory(dir)) return Map.empty
    val out = mutable.HashMap.empty[String, Long]
    Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .foreach { f =>
        Files.readAllLines(f).asScala.foreach { l =>
          for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
            out(p.group(1).split('/').last) = b.group(1).toLong
        }
      }
    out.toMap
  }

  /** Committed lines of each lake (read through its sink manifest) and
    * the `seq` checksums the output check compares with the generator's,
    * plus its data files on disk; one Spark query for all lakes. */
  private def lakeStats(ctx: Ctx, names: Seq[String]): Map[String, Map[String, Any]] = {
    val seqs = names.map { l =>
      ctx.spark.read.text(ctx.dir(l)).select(lit(l).as("lake"),
        get_json_object(col("value"), "$.seq").cast("long").as("seq"))
    }.reduce(_ union _)
    val rows = seqs.groupBy(col("lake")).agg(count(lit(1)), countDistinct(col("seq")),
      min(col("seq")), max(col("seq")), sum(col("seq"))).collect()
      .map(r => r.getString(0) -> r).toMap
    names.map { l =>
      val data = Files.walk(Paths.get(ctx.dir(l))).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-") &&
          !p.toString.contains("/_"))
        .toSeq
      val r = rows.get(l)
      def long(i: Int, empty: Long) = r.filterNot(_.isNullAt(i)).map(_.getLong(i)).getOrElse(empty)
      l -> Map("lines" -> long(1, 0L), "distinct" -> long(2, 0L),
        "seq_min" -> long(3, -1L), "seq_max" -> long(4, -1L), "seq_sum" -> long(5, 0L),
        "files" -> data.size, "bytes" -> data.map(Files.size).sum)
    }.toMap
  }
}
