package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{MapType, StringType}

/** The S4 replacement proper: a Structured Streaming pipeline with the
  * reference's observable semantics (SURVEY.md §1/§3), upgraded from
  * at-most-once to Spark's checkpointed exactly-once.
  *
  * Reference mapping (all paths cited into /root/reference):
  *  - R1/R2 socket/fan-in source (`input/unix.go:19-82`) → file-stream
  *    source over a directory; many concurrent writers multiplex into one
  *    stream exactly like the unix-socket accept loop.
  *  - R3 line framing (`input/unix.go:89-119`) → `readStream.text` is
  *    line-framed by construction.
  *  - R6 JSON validate-then-drop (`river/jsonr.go:99-116`): invalid
  *    records are dropped and the stream continues → `from_json` null
  *    filter.
  *  - R7/R8 timed flush (`river/river.go:52-58`, 5-minute default
  *    `main.go:44-48`) → `Trigger.ProcessingTime`; each micro-batch is
  *    one "flush".
  *  - R4 drain-and-stop (`input/unix.go:84-86`) → `Trigger.AvailableNow`
  *    + `awaitTermination`.
  *  - R9/R10 corpus concat + non-empty guard (`river/jsonr.go:72-84`) →
  *    the sink writes whole batches; empty batches produce no objects.
  *  - R11/R12 gzip'd `year=/month=/day=` S3 objects (`lake/lake.go:65-90`)
  *    → the built-in streaming file sink with
  *    `partitionBy("year","month","day")` + gzip text: exactly-once via
  *    the sink's `_spark_metadata` manifest (the reference was
  *    at-most-once AND overwrote same-minute objects,
  *    `lake/lake.go:81-88`; both fixed by construction). The pluggable
  *    `sink = "foreach"` path (R14) is foreachBatch — at-least-once
  *    execution made idempotent by batchId-keyed overwrite, see
  *    [[pushBatch]].
  *  - R13 console sink (`lake/lake.go:42-45`) → `format("console")`.
  *  - R15 CLI config (`main.go:20-86`) → [[S4Config]].
  *  - R17 mock generator (`test/tool.go:109-147`) → rate source emitting
  *    `{"index":"N"}` records.
  *
  * Scale posture: the pipeline is stateless (source → filter → project →
  * partitioned append), so it parallelizes per-file/per-partition with no
  * shuffle at all; the only state is the source offset log + optional
  * dedup/window state bounded by watermark TTL.
  */
object S4Stream {

  /** R15: the CLI surface of `main.go:20-57`, Spark-shaped. */
  case class S4Config(
      inputDir: String,
      inputKind: String = "files",           // files | socket | unix  (R1 dial vs dir watch)
      host: String = "localhost",            // socket mode only
      port: Int = 9999,                      // socket mode only
      socketPath: String = "",               // unix mode only    (input/unix.go:19-34)
      socketMode: String = "dial",           // unix mode: dial | listen (ConnectUnixSocket vs ListenUnixSocket)
      mode: String = "line",                 // --type line|json  (main.go:50-56)
      sink: String = "lake",                 // lake | console    (main.go:32-38 vs mock)
      lakeDir: String = "",                  // --s3Path analog   (main.go:26-31)
      checkpointDir: String = "",
      flushInterval: String = "5 minutes",   // --flushInterval   (main.go:44-48)
      availableNow: Boolean = false,         // drain-and-stop    (R4)
      maxFilesPerTrigger: Option[Int] = None,// backpressure S4 never had
      maxRecordBytes: Int = 64 * 1024,       // R3 record cap (input/unix.go:91-93)
      lakeFormat: String = "text",           // text (gzip, = S4 objects) | parquet
      // File-source RETENTION (VERDICT r10 item 4 — the 100 TB file
      // source killer): without it the driver's seen-files log and the
      // per-trigger directory listing grow without bound on an
      // ever-growing input prefix. `cleanSource` = archive | delete |
      // off — what happens to a file after its batch COMMITS (archive
      // moves it under `sourceArchiveDir`, outside the watched glob, so
      // it leaves every future listing; delete removes it). `maxFileAge`
      // bounds how far back a listing looks when a file escapes
      // cleaning. Both map to Spark's own file-source options — the
      // engine handles commit-time cleanup, so a crashed batch's files
      // are never cleaned early.
      cleanSource: String = "off",           // off | archive | delete
      sourceArchiveDir: String = "",         // required when cleanSource=archive
      maxFileAge: Option[String] = None      // e.g. "7d" — listing horizon
  )

  /** Line-framed source (R1/R2/R3): one row per newline-terminated
    * record, `value: string`.
    *
    * `files` (default, production): a watched directory — many concurrent
    * writers multiplex into one stream exactly like the reference's
    * accept loop (`input/unix.go:49-82`). `socket`: Spark's TCP socket
    * source, the dial-a-socket analog of the client mode
    * (`input/unix.go:19-34`) — like the reference's socket, it has no
    * replay, so it is the dev/mock path, not the exactly-once one.
    * `unix`: the LITERAL transport — a UNIX domain socket at
    * `socketPath` (graft's own DSv2 source, UnixSocketSource.scala),
    * same dev-mode no-replay contract. */
  def source(spark: SparkSession, cfg: S4Config): DataFrame = cfg.inputKind match {
    case "socket" =>
      spark.readStream.format("socket")
        .option("host", cfg.host).option("port", cfg.port).load()
    case "unix" =>
      spark.readStream.format("unix-socket")
        .option("path", cfg.socketPath)
        .option("mode", cfg.socketMode).load()
    case _ =>
      val r = spark.readStream
      cfg.maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
      if (cfg.cleanSource != "off") {
        r.option("cleanSource", cfg.cleanSource)
        if (cfg.cleanSource == "archive") {
          require(cfg.sourceArchiveDir.nonEmpty,
            "cleanSource=archive needs --source-archive-dir (must resolve " +
              "OUTSIDE the watched directory, or Spark refuses to archive)")
          r.option("sourceArchiveDir", cfg.sourceArchiveDir)
        }
      }
      cfg.maxFileAge.foreach(a => r.option("maxFileAge", a))
      r.text(cfg.inputDir)
  }

  /** R6: json mode validates each record parses as a JSON object and
    * DROPS invalid ones (the reference panics-and-recovers per record,
    * `river/jsonr.go:100-108`); line mode passes bytes through.
    *
    * Both modes enforce the reference's implicit 64 KiB record cap —
    * Go's `bufio.Scanner` default max token, where an oversized line
    * kills the whole process (`input/unix.go:107-112`). We deliberately
    * soften crash-the-pipeline into drop-the-record: the record limit is
    * part of the data model, the process suicide is a failure mode, not
    * a spec (SURVEY.md §1). */
  def validated(records: DataFrame, mode: String,
                maxRecordBytes: Int = 64 * 1024): DataFrame = {
    val capped = records.filter(octet_length(col("value")) <= maxRecordBytes)
    mode match {
      case "json" =>
        capped.filter(
          from_json(col("value"), MapType(StringType, StringType)).isNotNull)
      case _ => capped
    }
  }

  /** R12 partition keys: Hive-style year/month/day from the flush-time
    * clock — S4 stamps objects with `time.Now()` at push
    * (`lake/lake.go:76-81`); the batch-time `current_timestamp` is the
    * same processing-time semantics. */
  def withPartitionKeys(records: DataFrame): DataFrame =
    records
      .withColumn("_now", current_timestamp())
      .withColumn("year", year(col("_now")))
      .withColumn("month", month(col("_now")))
      .withColumn("day", dayofmonth(col("_now")))
      .drop("_now")

  /** R11+R12+R14 sink-abstraction body (the `sink = "foreach"` path):
    * one object set per non-empty flush, partitioned `year=/month=/day=`
    * under a `batch=<id>` root (unpadded ints, matching
    * `lake/lake.go:79-81`).
    *
    * Delivery: foreachBatch execution is AT-LEAST-ONCE — a batch that
    * fails (or a query that restarts) after the write but before the
    * offset commit re-executes. The write is therefore keyed on the
    * batchId and OVERWRITES its own `batch=<id>` subtree, so a re-run
    * replaces rather than duplicates: at-least-once execution, effectively
    * exactly-once lake CONTENT. (The round-2 version appended task-UUID
    * files — which fixed the reference's same-minute overwrite,
    * `lake/lake.go:81-88`, but removed idempotency; ADVICE r2.) The
    * default `sink = "lake"` path doesn't need any of this: it is the
    * built-in file sink, exactly-once via its own `_spark_metadata` log.
    *
    * The R10 non-empty guard is structural, not an explicit isEmpty: a
    * partitioned write of zero rows emits zero data objects, and probing
    * `batch.isEmpty` first would be a SECOND action through the
    * `observe` node, double-counting the per-batch metrics. */
  def pushBatch(batch: DataFrame, lakeDir: String,
                format: String = "text", batchId: Long = 0L): Unit = {
    val w = withPartitionKeys(batch)
      .write
      .partitionBy("year", "month", "day")
      .mode("overwrite")
    val dir = s"$lakeDir/batch=$batchId"
    format match {
      case "parquet" => w.parquet(dir)
      case _ => w.option("compression", "gzip").text(dir)
    }
  }

  /** Streaming keyed UPSERT into a hash-bucketed parquet table — the CDC
    * "MERGE INTO" apply step without a table format. Each micro-batch:
    *
    *   1. contracts to one row per key (max version — within-batch
    *      duplicates and reordering collapse here),
    *   2. computes the hash buckets its keys touch (bounded collect: at
    *      most `numBuckets` values, never rows),
    *   3. reads ONLY those `bucket=` partitions of the current table,
    *      merges by "highest version per key wins" (so a LATE/replayed
    *      older version can never regress a newer row — which also makes
    *      at-least-once re-execution idempotent),
    *   4. dynamically overwrites just the touched partitions.
    *
    * At scale the rewrite cost per batch is proportional to the touched
    * buckets, not the table: with uniform key hashing a batch touching k
    * keys rewrites min(k, numBuckets)/numBuckets of the data. Raise
    * numBuckets so a bucket ≈ a comfortable file size — but treat it as
    * a TABLE CONSTANT: changing it on an existing table re-hashes new
    * arrivals into different buckets than the rows they should replace,
    * and the merge silently misses them (re-bucket by rewriting the
    * whole table first). The merged frame is eagerly checkpointed before
    * the write because the write overwrites the very partitions it
    * read. */
  def upsertStream(records: DataFrame, keyCol: String, versionCol: String,
                   tableDir: String, checkpointDir: String,
                   numBuckets: Int = 16, availableNow: Boolean = true): StreamingQuery = {
    val spark = records.sparkSession
    records.writeStream
      .outputMode("update")
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Within-batch contraction: version desc, tiebroken by a hash of
        // the FULL row content — keyCol alone is the partition key, so
        // without this an equal-version duplicate with a different
        // payload would win nondeterministically across re-executions.
        val wIn = Window.partitionBy(col(keyCol))
          .orderBy(col(versionCol).desc,
            hash(batch.columns.map(col).toSeq: _*).asc)
        val incoming = batch
          .withColumn("_rn", row_number().over(wIn)).filter(col("_rn") === 1).drop("_rn")
          .withColumn("bucket", pmod(hash(col(keyCol)), lit(numBuckets)))
        if (!incoming.isEmpty) {
          val touched = incoming.select(col("bucket")).distinct()
            .collect().map(_.getInt(0)).toSeq // bounded by numBuckets
          // "table exists" = the dir holds data or partition dirs (an
          // empty/nonexistent dir would fail parquet schema inference).
          // Probed through the Hadoop FileSystem API so the operator
          // works against ANY supported store (s3a://, hdfs://, file:),
          // not just the local filesystem (r6 verdict item 3).
          val tablePath = new org.apache.hadoop.fs.Path(tableDir)
          val fs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val tableHasData = fs.exists(tablePath) &&
            fs.listStatus(tablePath).exists { st =>
              val n = st.getPath.getName
              !n.startsWith("_") && !n.startsWith(".")
            }
          val existing =
            if (tableHasData)
              spark.read.parquet(tableDir)
                .filter(col("bucket").isInCollection(touched))
            else incoming.limit(0)
          // Merge: highest version per key wins; on an equal-version tie
          // the INCOMING row deterministically replaces the stored one
          // (any fixed winner keeps replays idempotent — what matters is
          // that re-executions can't flip it).
          val wMerge = Window.partitionBy(col(keyCol))
            .orderBy(col(versionCol).desc, col("_inc").desc)
          val merged = existing.withColumn("_inc", lit(0))
            .unionByName(incoming.withColumn("_inc", lit(1)))
            .withColumn("_rn", row_number().over(wMerge)).filter(col("_rn") === 1)
            .drop("_rn", "_inc")
            .localCheckpoint() // eager: the write overwrites what was read
          merged.write
            .partitionBy("bucket")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(tableDir)
        }
      }
      .start()
  }

  /** Wire source → validate → sink and start the query (EP1/EP2 of
    * SURVEY.md §3). */
  def run(spark: SparkSession, cfg: S4Config): StreamingQuery = {
    // R16's per-push logging becomes observed metrics: every micro-batch
    // reports record count + bytes in its StreamingQueryProgress
    // (observedMetrics."s4"), queryable by any listener.
    val validatedDf = validated(source(spark, cfg), cfg.mode, cfg.maxRecordBytes)
      .observe("s4", count(lit(1)).as("n_records"),
        sum(octet_length(col("value"))).as("n_bytes"))
    val writer = cfg.sink match {
      case "console" => // R13
        validatedDf.writeStream.format("console").option("truncate", false)
      case "foreach" => // R14 sink abstraction — custom Push(), idempotent per batchId
        validatedDf.writeStream.foreachBatch {
          (batch: DataFrame, id: Long) => pushBatch(batch, cfg.lakeDir, cfg.lakeFormat, id)
        }
      case _ => // lake (default): built-in file sink — exactly-once via its
        // _spark_metadata manifest, the strongest delivery contract here
        val w = withPartitionKeys(validatedDf).writeStream
          .partitionBy("year", "month", "day")
          .option("path", cfg.lakeDir)
        cfg.lakeFormat match {
          case "parquet" => w.format("parquet")
          case _ => w.format("text").option("compression", "gzip")
        }
    }
    // the file sink requires a checkpoint; default it next to the lake
    // (underscore prefix keeps readers from listing it as data)
    val ckpt =
      if (cfg.checkpointDir.nonEmpty) cfg.checkpointDir
      else if (cfg.sink != "console" && cfg.lakeDir.nonEmpty) s"${cfg.lakeDir}/_checkpoint"
      else ""
    if (ckpt.nonEmpty) writer.option("checkpointLocation", ckpt)
    writer
      .trigger(
        if (cfg.availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime(cfg.flushInterval))
      .start()
  }

  /** R17: the mock generator — `{"index":"N"}` records at a fixed rate
    * (`test/tool.go:136-142` emits every 200ms = 5 rows/sec; index is a
    * STRING in the reference, FIXTURES.md A). */
  def mockSource(spark: SparkSession, rowsPerSecond: Int = 5): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(to_json(struct(col("value").cast("string").as("index"))).as("value"))

  /** Event-time flush window (the R7/R8 semantics as an event-time
    * query): tumbling window with per-window record count and payload
    * bytes, watermarked so state is bounded. */
  def flushWindowStream(records: DataFrame, tsCol: String,
                        windowLen: String = "5 minutes",
                        watermark: String = "10 minutes"): DataFrame =
    records
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n_records"),
        sum(length(col("value"))).as("batch_bytes"))

  /** STREAMING session windows (the streaming mirror of q40_sessionize's
    * batch gaps-and-islands): per-key sessions that extend while events
    * keep arriving within `gap` of each other and close `gap` after the
    * last one. session_window merges partial sessions across
    * micro-batches in the state store; the watermark both bounds that
    * state and decides when a session can no longer grow (a session only
    * emits once the watermark passes its end — late events inside the
    * gap would otherwise reopen it). State per key ≈ open sessions only,
    * independent of stream age. */
  def sessionWindowStream(records: DataFrame, keyCol: String, tsCol: String,
                          gap: String = "5 minutes",
                          watermark: String = "10 minutes"): DataFrame =
    records
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Stream-static enrichment join: the streaming side joins a static
    * dimension table per micro-batch — no state, no watermark needed;
    * at scale the static side is broadcast so the stream never
    * shuffles. (The reference has no lookup capability at all; this is
    * the first thing a user adds once records carry keys.) */
  def enrichStream(records: DataFrame, dim: DataFrame,
                   keyCol: String): DataFrame =
    records.join(broadcast(dim), Seq(keyCol), "left")

  /** Stream-stream interval join (the §2b streaming join family beyond
    * [[enrichStream]]'s stream-static case): inner-joins two LIVE streams
    * on a key, keeping right-side events that land within
    * `[left.ts, left.ts + joinWindow]`. Both sides are watermarked and
    * the join condition bounds event time in both directions — that pair
    * is what lets Spark evict buffered join state; without the time bound
    * every row waits forever for future matches and state grows without
    * limit. At scale, state ≈ input rate × (watermark + joinWindow) per
    * side, independent of stream age; both sides shuffle once on the key.
    *
    * `joinType` "left_outer": an unmatched left row is emitted with null
    * right columns — but only once the watermark has passed its whole
    * match window (before that a future in-window right row could still
    * arrive), so outer results trail the watermark by design. */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, keyCol: String,
                          leftTs: String, rightTs: String,
                          watermark: String = "10 minutes",
                          joinWindow: String = "5 minutes",
                          joinType: String = "inner"): DataFrame = {
    val rk = s"_r_$keyCol"
    val r = right.withColumnRenamed(keyCol, rk)
    left.withWatermark(leftTs, watermark)
      .join(r.withWatermark(rightTs, watermark),
        col(keyCol) === col(rk) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $joinWindow"),
        joinType)
      .drop(rk)
  }

  /** One flush decision emitted by [[sizeFlushStream]]. */
  case class SizeFlush(key: String, n_records: Long, n_bytes: Long)

  /** Arbitrary-state streaming (§2b "(flat)MapGroupsWithState"): a
    * SIZE-based flush — emit a flush marker for a key whenever its
    * buffered byte count crosses `thresholdBytes`, then reset that
    * key's counter. The reference can only flush on a timer
    * (`river/river.go:52-58`); size-triggered flushing needs per-key
    * running state that no built-in windowed aggregate expresses, which
    * is exactly the `flatMapGroupsWithState` niche.
    *
    * State per key is two longs — bounded regardless of throughput; at
    * scale the operator shuffles once on the key like any stateful agg.
    * Input must have a `value: string` column and the key column. */
  def sizeFlushStream(records: DataFrame, keyCol: String,
                      thresholdBytes: Long): org.apache.spark.sql.Dataset[SizeFlush] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import records.sparkSession.implicits._
    records
      .select(col(keyCol).cast("string").as("key"),
        octet_length(col("value")).cast("long").as("bytes"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[(Long, Long)]) =>
          var (n, bytes) = state.getOption.getOrElse((0L, 0L))
          val flushes = scala.collection.mutable.ArrayBuffer.empty[SizeFlush]
          rows.foreach { case (_, b) =>
            n += 1; bytes += b
            if (bytes >= thresholdBytes) {
              flushes += SizeFlush(key, n, bytes)
              n = 0; bytes = 0
            }
          }
          state.update((n, bytes))
          flushes.iterator
      }
  }

  /** [[sizeFlushStream]]'s processor on the Spark 4 `transformWithState`
    * API (§2b names both forms; this is the forward-compatible one —
    * typed per-key state handles, explicit TTL config, timer support).
    * Same semantics as the flatMapGroupsWithState form: two longs of
    * state per key, flush marker emitted when the byte count crosses the
    * threshold, counter reset, remainder carried across batches.
    * StreamingSpec holds the two implementations to identical output.
    *
    * Requires the RocksDB state store provider
    * (spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider) — the provider transformWithState
    * is built for, and the right one at scale anyway: state lives
    * off-heap/on-disk with changelog checkpointing instead of in executor
    * heap. */
  class SizeFlushProcessor(thresholdBytes: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), SizeFlush] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var counts: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getValueState[(Long, Long)]("counts",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                 timerValues: TimerValues): Iterator[SizeFlush] = {
      var (n, bytes) = if (counts.exists()) counts.get() else (0L, 0L)
      val flushes = scala.collection.mutable.ArrayBuffer.empty[SizeFlush]
      rows.foreach { case (_, b) =>
        n += 1; bytes += b
        if (bytes >= thresholdBytes) {
          flushes += SizeFlush(key, n, bytes)
          n = 0; bytes = 0
        }
      }
      counts.update((n, bytes))
      flushes.iterator
    }
  }

  /** Size-based flush via `transformWithState` (see [[SizeFlushProcessor]]). */
  def sizeFlushStreamTws(records: DataFrame, keyCol: String,
                         thresholdBytes: Long): org.apache.spark.sql.Dataset[SizeFlush] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import records.sparkSession.implicits._
    records
      .select(col(keyCol).cast("string").as("key"),
        octet_length(col("value")).cast("long").as("bytes"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new SizeFlushProcessor(thresholdBytes),
        TimeMode.None(), OutputMode.Append())
  }

  /** Stateful streaming dedup bounded by watermark (§2b streaming ops):
    * drops records whose key was already seen within the watermark
    * horizon — state is evicted past it, so memory is bounded at any
    * scale. */
  def dedupStream(records: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermark: String = "10 minutes"): DataFrame =
    records
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming document CURATION — the streaming mirror of the batch
    * `doc_pipeline_e2e` composition: per-document quality gates (min
    * token count, min distinct-token ratio — the cheap Gopher-style
    * filters) followed by cross-batch EXACT dedup on the text's sha-256
    * within the watermark horizon. A re-crawled page arriving in a later
    * micro-batch is dropped as long as the original is inside the
    * horizon; state is one 256-bit hash per kept document in the
    * horizon, evicted past it — bounded at any ingest rate. The filter
    * runs BEFORE the dedup state, so junk documents never enter the
    * state store. Compose with the lake sink (`writeStream.partitionBy`)
    * for the ingest→curate→lake path StreamingSpec drives end to end. */
  def curationStream(docs: DataFrame, tsCol: String,
                     minTokens: Int, minUniqRatio: Double,
                     watermark: String = "10 minutes"): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .filter(size(toks) >= minTokens &&
        size(array_distinct(toks)).cast("double") / size(toks) >= minUniqRatio)
      .withColumn("text_hash", sha2(col("text"), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("text_hash"))
  }

  /** STREAMING per-key MinHash signature maintenance: because the
    * element-wise-min merge is exactly the signature of the set UNION
    * (MinHashMerge scaladoc), the per-source corpus sketch is an
    * ordinary streaming aggregate — state is ONE fixed-size signature
    * (numHashes longs) per key regardless of how many documents ever
    * arrived, and the result after any prefix of the stream equals the
    * batch signature over the same documents (StreamingSpec holds this
    * across checkpointed restarts). Feed the signatures to the
    * source-overlap estimator (`doc_source_overlap_minhash`'s compare
    * stage) for an always-current overlap matrix over live ingest. */
  def minhashSketchStream(docs: DataFrame, keyCol: String,
                          numHashes: Int = 128): DataFrame = {
    val mergeSig = udaf(new graft.functions.MinHashMerge(numHashes))
    docs
      .select(col(keyCol),
        graft.functions.MinHashSig(
          graft.functions.ShingleHashSet(col("text"), 3), numHashes, seed = 42L)
          .as("sig"))
      .groupBy(col(keyCol)).agg(mergeSig(col("sig")).as("sig"))
  }

  /** STREAMING data-quality monitor — the live mirror of the batch
    * `dq_checks` suite: every micro-batch is scored against a fixed
    * check set (null keys, out-of-domain values, within-batch duplicate
    * keys) and ONE verdict row per check per batch is appended to a
    * parquet metrics table. foreachBatch, because the output is a
    * side-channel metrics feed keyed by batch — not a windowed
    * aggregate of the stream itself; state is zero (each batch scores
    * alone), so the monitor adds one pass over data the batch already
    * holds in memory. The quarantine decision stays with the caller —
    * production monitors alert on the metrics table, they do not block
    * the pipeline. */
  def dqMonitorStream(records: DataFrame, keyCol: String, valueCol: String,
                      lo: Double, hi: Double, metricsDir: String,
                      checkpointDir: String,
                      availableNow: Boolean = false): StreamingQuery = {
    val w = records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val checks = batch.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col(keyCol).isNull, 1L).otherwise(0L)).as("null_keys"),
          sum(when(col(valueCol) < lo || col(valueCol) > hi, 1L)
            .otherwise(0L)).as("range_violations"),
          (count(lit(1)) - countDistinct(col(keyCol))).as("dup_keys"))
        checks.selectExpr(
          s"$batchId as batch_id", "stack(3, " +
            "'null_keys', null_keys, " +
            "'range_violations', range_violations, " +
            "'dup_keys', dup_keys) as (check, violations)",
          "n_rows")
          .withColumn("pass", col("violations") === 0L)
          .write.mode("append").parquet(metricsDir)
        ()
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** One anomaly emitted by [[ewmaAnomalyStream]]: the observation, the
    * forecast it violated, and the deviation in sigma units. */
  case class EwmaAnomaly(key: String, ts_us: Long, value: Double,
                         forecast: Double, sigmas: Double)

  /** STREAMING EWMA anomaly detection — the live monitor on the metric
    * `ev_ewma` smooths in batch: per key, maintain the exponentially
    * weighted mean AND the exponentially weighted variance (West's
    * update: diff = x − m; m += a·diff; v = (1−a)·(v + a·diff²)), and
    * flag any observation more than `k` EW-sigmas from the CURRENT
    * forecast before folding it in. State is three doubles + a count per
    * key — bounded regardless of stream length; the first `warmup`
    * observations train silently (a cold detector flags everything).
    * Rows sort by (event time, seq) within each batch; cross-batch
    * order relies on the source's per-key ordering, late rows fold in
    * as-if-current (the batch z-score query is the exact-replay path). */
  def ewmaAnomalyStream(events: DataFrame, keyCol: String, tsCol: String,
                        seqCol: String, valueCol: String,
                        alpha: Double = 0.3, k: Double = 3.0,
                        warmup: Int = 5):
      org.apache.spark.sql.Dataset[EwmaAnomaly] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .select(col(keyCol).cast("string").as("key"),
        unix_micros(col(tsCol)).as("ts_us"),
        col(seqCol).cast("long").as("seq"),
        col(valueCol).cast("double").as("x"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        // state = (ewma, ewmvar, n_seen)
        (key: String, rows: Iterator[(String, Long, Long, Double)],
         state: GroupState[(Double, Double, Long)]) =>
          var (m, v, n) = state.getOption.getOrElse((0.0, 0.0, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[EwmaAnomaly]
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, ts, _, x) =>
            if (n >= warmup) {
              val sd = math.sqrt(v)
              if (sd > 0 && math.abs(x - m) > k * sd)
                out += EwmaAnomaly(key, ts, x, m, math.abs(x - m) / sd)
            }
            if (n == 0L) { m = x; v = 0.0 }
            else {
              val diff = x - m
              val incr = alpha * diff
              m += incr
              v = (1.0 - alpha) * (v + diff * incr)
            }
            n += 1
          }
          state.update((m, v, n))
          out.iterator
      }
  }

  /** One closed validity interval emitted by [[scd2Stream]]. */
  case class Scd2Closed(key: Long, attr: String,
                        valid_from_us: Long, valid_to_us: Long)

  /** STREAMING SCD Type-2 maintenance — the live mirror of the batch
    * `ev_scd2` history build (Kimball Type-2: each attribute change
    * closes the previous validity interval and opens a new one). Per-key
    * state is ONE open interval (attr, from, last-seen position) — three
    * values regardless of stream length; each micro-batch sorts its own
    * group's rows by (event time, seq) and emits a closed interval per
    * attribute change, exactly what the batch operator derives with
    * lag/lead windows. Append mode emits CLOSED intervals only — the
    * open "current" row lives in the state store (re-derivable as the
    * batch query's is_current row at any time; emitting it would need a
    * retraction on the next change, which Append cannot express).
    * Rows older than the key's already-processed horizon are dropped
    * (the batch operator over the lake is the late-data backfill path —
    * same contract as the reference's at-least-once shipper, where
    * replays must never regress state). */
  def scd2Stream(events: DataFrame, keyCol: String, tsCol: String,
                 seqCol: String, attrCol: String):
      org.apache.spark.sql.Dataset[Scd2Closed] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .select(col(keyCol).cast("long").as("key"),
        unix_micros(col(tsCol)).as("ts_us"),
        col(seqCol).cast("long").as("seq"),
        col(attrCol).cast("string").as("attr"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        // state = (open attr, open from_us, last ts_us, last seq)
        (key: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[(String, Long, Long, Long)]) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          var st = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
          sorted.foreach { case (_, ts, seq, attr) =>
            st match {
              case None => st = Some((attr, ts, ts, seq))
              case Some((cur, from, lastTs, lastSeq)) =>
                if (ts < lastTs || (ts == lastTs && seq <= lastSeq)) {
                  // late beyond the processed horizon — batch backfill path
                } else if (attr != cur) {
                  closed += Scd2Closed(key, cur, from, ts)
                  st = Some((attr, ts, ts, seq))
                } else st = Some((cur, from, ts, seq))
            }
          }
          st.foreach(state.update)
          closed.iterator
      }
  }

  /** One funnel transition emitted by [[funnelStream]]: the user reached
    * step `step` (1-based position in the step list) at `ts_us`. */
  case class FunnelStep(key: Long, step: Int, step_type: String, ts_us: Long)

  /** STREAMING strict-ordered funnel — the live mirror of the batch
    * `ev_ordered_funnel`: per user, track progress through an ordered
    * step-type list (e.g. view → click → purchase), where a step counts
    * only AT OR AFTER the previous one was reached, and emit one
    * transition row the moment each step is achieved. State per key is
    * two values (step index reached + its event time) regardless of
    * stream length or funnel depth. Within a micro-batch the group's
    * rows sort by (event time, seq); a late row older than the reached
    * step's time folds away — an emitted transition is never retracted
    * (Append semantics; the batch operator over the lake is the
    * exact-replay / backfill path, same contract as scd2Stream). */
  def funnelStream(events: DataFrame, keyCol: String, tsCol: String,
                   seqCol: String, typeCol: String, steps: Seq[String]):
      org.apache.spark.sql.Dataset[FunnelStep] = {
    require(steps.nonEmpty, "funnel needs at least one step type")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .select(col(keyCol).cast("long").as("key"),
        unix_micros(col(tsCol)).as("ts_us"),
        col(seqCol).cast("long").as("seq"),
        col(typeCol).cast("string").as("t"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        // state = (steps reached, event time of the last reached step)
        (key: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[(Int, Long)]) =>
          var (reached, reachedTs) = state.getOption.getOrElse((0, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelStep]
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, ts, _, t) =>
            if (reached < steps.length && t == steps(reached) &&
                (reached == 0 || ts >= reachedTs)) {
              reached += 1
              reachedTs = ts
              out += FunnelStep(key, reached, t, ts)
            }
          }
          state.update((reached, reachedTs))
          out.iterator
      }
  }

  /** STREAMING ingest against the persisted near-dup index — the
    * production crawl loop: per micro-batch, PROBE the incoming docs
    * against `indexDir` (partition-pruned, [[graft.operators.TextIndex]]),
    * write only the NOVEL ones to the lake, and APPEND them to the index
    * so the very next batch (or any batch-side job sharing the index)
    * dedups against them. Unlike [[graft.streaming.NearDupStream]]'s
    * state-store horizon, the index is durable and shared: it outlives
    * the query, other streams and batch ingests probe the same one, and
    * there is no eviction horizon. Batches are processed one at a time,
    * so the probe-then-append sequence is race-free by construction.
    *
    * Replay idempotence (VERDICT r8 item 5): the index append is the one
    * non-idempotent leg, so each fully-processed batch leaves a marker
    * file under `<indexDir>/applied/` (keyed by checkpoint identity +
    * batchId, written LAST). A replayed batch whose marker exists is
    * skipped outright — lake subtree and index rows are already
    * committed. If the crash landed between the append and the marker,
    * the replay re-runs the batch excluding its own provenance tag (the batch's
    * own just-appended copies don't self-flag — without this the re-probe
    * would mark everything dup and OVERWRITE the lake subtree with zero
    * rows), recreating the same lake content; the re-append duplicates
    * band/token rows for that one batch, which probe semantics tolerate
    * (best-match rank collapses duplicates and their Jaccard is
    * identical). */
  /** Marker-gated batch application for probe-then-append ingest loops:
    * run `body` only when `<indexDir>/applied/ck<runKey>_b<batchId>` is
    * absent, and create that marker LAST as the commit point. A replayed
    * batch whose marker exists is skipped — its lake subtree and index
    * rows are already committed. */
  private def appliedOnce(s: org.apache.spark.sql.SparkSession,
      indexDir: String, runKey: String, batchId: Long)(body: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(
      s"$indexDir/applied/ck${runKey}_b$batchId")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      body
      fs.create(marker, true).close() // commit point: batch fully applied
    }
  }

  /** Shared wiring of the three indexed-ingest loops: checkpointed
    * foreachBatch, optional drain-and-stop trigger. Kept in one place so
    * trigger/checkpoint handling can't drift between the loops. */
  private def startIndexedLoop(src: DataFrame, checkpointDir: String,
      availableNow: Boolean)(body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Marker namespace key = the checkpoint's QUERY ID (written to
    * `<ck>/metadata` at stream start): stable across restarts from the
    * same checkpoint (same batchId lineage), fresh when the checkpoint
    * is recreated — a recreated checkpoint restarts batchIds at 0, and
    * path-keyed markers would silently skip those new batches. */
  private def checkpointRunKey(s: org.apache.spark.sql.SparkSession,
                               checkpointDir: String): String = {
    // evaluated lazily inside foreachBatch, so the metadata file exists
    // by construction. FAIL rather than fall back to a path-derived key:
    // a silent fallback on a transient FS error would pin this lineage
    // to path-keyed markers, and a later checkpoint recreation at the
    // same path (batchIds restart at 0) could match stale markers and
    // skip real batches — the data-loss mode the query-id key prevents.
    val meta = new org.apache.hadoop.fs.Path(s"$checkpointDir/metadata")
    val fs = meta.getFileSystem(s.sparkContext.hadoopConfiguration)
    val txt = {
      val in = fs.open(meta)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
      .map(_.group(1).replaceAll("[^a-zA-Z0-9-]", "_"))
      .getOrElse(throw new IllegalStateException(
        s"no query id in checkpoint metadata at $meta: $txt"))
  }

  /** One micro-batch of [[indexedDedupStream]], exposed for direct
    * replay testing. `runKey` is the stream's identity in the shared
    * marker namespace — batchIds only mean something within one
    * checkpoint lineage. */
  private[graft] def processIndexedDedupBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexDir: String, lakeDir: String,
      runKey: String): Unit = {
    val s = batch.sparkSession
    // the batch's provenance tag: append stamps index rows with it, and
    // the replay re-probe excludes exactly those rows — NOT rows that
    // merely share an id with the batch (a stable-id re-crawl appended
    // by an earlier batch must still dedup)
    val tag = s"ck${runKey}_b$batchId"
    // marker first: a replayed, fully-committed batch costs one FS
    // exists() — the isEmpty action (a job over the batch source) only
    // runs for batches that still need applying
    appliedOnce(s, indexDir, runKey, batchId) {
      // recordMerge is append's commit point and the lake write
      // precedes the append, so a RECORDED tag proves this batch fully
      // committed everything except its marker. The replay must then be
      // a pure no-op to the marker: the index may have changed since
      // (a takedown removed rows), and re-deciding the batch's novelty
      // against TODAY's index would either resurrect scrubbed lake rows
      // (tombstones close that) or admit rows the original run dropped
      // as dups of a since-removed doc — landing them in the lake but
      // never in the index or its fingerprint. Yesterday's dedup
      // decision stands.
      val committed = graft.operators.Fingerprint.tagUsed(
        s.sparkContext.hadoopConfiguration, indexDir, tag)
      if (!committed && !batch.isEmpty) {
        // resurrection guard FIRST: a replay of this batch after a
        // takedown removed some of its rows must not re-admit them —
        // content-scoped tombstones AND dead-until-reclaim logical ids
        val live = exceptLogicallyDeleted(
          exceptTombstoned(batch, idCol, textCol, indexDir), idCol, indexDir)
        val flagged = graft.operators.TextIndex
          .probe(s, indexDir, live, idCol, textCol, excludeTag = Some(tag))
          .select(col("inc_id"))
        val novel = live
          .join(flagged, live(idCol) === col("inc_id"), "left_anti")
          .localCheckpoint() // consumed twice: lake write + index append
        // batchId-keyed overwrite (the pushBatch recipe): a replayed
        // batch rewrites its own subtree, so the LAKE is exactly-once.
        novel.write.mode("overwrite").parquet(s"$lakeDir/batch=$batchId")
        graft.operators.TextIndex.append(novel, idCol, textCol, indexDir, tag)
      }
    }
  }

  /** Persist RTBF tombstones: one `(id, content-hash)` row per removed
    * (id, value) under `<indexDir>/removed/batch=<tag>` (overwrite, so
    * one call per tag carries the whole batch). Written by
    * [[rtbfPurgeStream]] before its purge mutates anything. They close
    * the silent resurrection window: an ingest batch that crashed AFTER
    * its index append but BEFORE its applied/ marker replays after the
    * takedown, finds its victim no longer indexed (so "novel"), and
    * would re-write the forgotten rows into lake and index; the ingest
    * loops anti-join every batch against these rows first. Batch RTBF
    * flows that call the index removes directly against a lake with a
    * LIVE ingest checkpoint should call this with the same victim rows.
    * Tombstones are content-scoped on purpose: a future re-crawl of the
    * same id with CHANGED content is a new document and still ingests. */
  def recordTombstones(victims: DataFrame, idCol: String, valueCol: String,
                       indexDir: String, tag: String): Unit = {
    val safe = graft.operators.Fingerprint.sanitizeTag(tag)
    victims.select(col(idCol), xxhash64(col(valueCol)).as("_vh"))
      .distinct()
      .write.mode("overwrite").parquet(s"$indexDir/removed/batch=$safe")
  }

  /** Operator RETENTION for the RTBF tombstones: drop batches older
    * than `olderThanMs`, returning how many were pruned. Tombstones
    * exist to block the replay of ingest batches that crashed before
    * their applied/ marker — so pruning one is safe exactly when no
    * unmarkered ingest batch predates it (every stream sharing the
    * index has restarted and drained since that takedown). Without
    * pruning, the set grows one batch dir per takedown forever and
    * every ingest micro-batch anti-joins against all of it; a periodic
    * prune bounds the guard to the operational replay horizon. Not
    * automatic by design: only the operator knows the streams'
    * restart discipline. */
  def pruneTombstones(s: org.apache.spark.sql.SparkSession,
                      indexDir: String, olderThanMs: Long): Int =
    pruneTombstones(s.sparkContext.hadoopConfiguration, indexDir, olderThanMs)

  /** Configuration overload — pure FS metadata work, so the ops console
    * ([[graft.IndexAdmin]] `--prune`) can run it from a cold JVM with no
    * SparkSession. */
  def pruneTombstones(conf: org.apache.hadoop.conf.Configuration,
                      indexDir: String, olderThanMs: Long): Int = {
    val dir = new org.apache.hadoop.fs.Path(s"$indexDir/removed")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) 0
    else {
      val cutoff = System.currentTimeMillis() - olderThanMs
      // age from the newest FILE inside each batch dir, exactly as
      // IndexAdmin.report displays it: object-store "directory" mtimes
      // are synthetic (0, or listing time) — judging by the dir would
      // read every batch as infinitely old on S3A and delete ALL
      // tombstones regardless of olderThanMs, silently reopening the
      // resurrection window they exist to close
      val old = fs.listStatus(dir).filter { st =>
        val files = fs.listStatus(st.getPath).filter(_.isFile)
        val mtime =
          if (files.nonEmpty) files.map(_.getModificationTime).max
          else st.getModificationTime
        mtime < cutoff
      }
      old.foreach(st => fs.delete(st.getPath, true))
      if (fs.listStatus(dir).isEmpty) fs.delete(dir, false)
      old.length
    }
  }

  /** Drop one takedown batch's tombstones — the rollback leg of a
    * refused (pre-mutation) index remove, see [[recordTombstones]]. */
  private def clearTombstones(s: org.apache.spark.sql.SparkSession,
                              indexDir: String, tag: String): Unit = {
    val safe = graft.operators.Fingerprint.sanitizeTag(tag)
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/removed/batch=$safe")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // prune an emptied parent so the ingest guard's existence fast path
    // stays meaningful (it also tolerates the empty dir directly)
    if (fs.exists(p.getParent) && fs.listStatus(p.getParent).isEmpty)
      fs.delete(p.getParent, false)
  }

  /** Drop the rows of `batch` whose (id, content-hash) is tombstoned
    * under `<indexDir>/removed/` — the ingest loops' resurrection
    * guard. No-FS-entry fast path when no takedown ever ran; the join
    * is an equi anti-join Spark auto-broadcasts while the tombstone set
    * is small (parquet size stats), shuffling only for bulk-purge-scale
    * sets. */
  private def exceptTombstoned(batch: DataFrame, idCol: String,
      valueCol: String, indexDir: String): DataFrame = {
    val s = batch.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$indexDir/removed")
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    // empty-dir case: a refused takedown rolled its batch back and left
    // the bare parent — no tombstones, and reading it would throw
    if (!fs.exists(dir) || fs.listStatus(dir).isEmpty) batch
    else {
      val tomb = s.read.parquet(dir.toString)
        .select(col(idCol).as("_tomb_id"), col("_vh"))
      batch.join(tomb, batch(idCol) === col("_tomb_id") &&
        xxhash64(batch(valueCol)) === col("_vh"), "left_anti")
    }
  }

  /** Drop batch rows whose id is LOGICALLY deleted in the index
    * (review-caught r13): a tombstoned id is dead until compact()
    * reclaims it — the index appends REFUSE it (re-ingested rows would
    * be hidden by the id-scoped anti-join and then wrongly reclaimed),
    * so without this filter a re-crawl of a taken-down id would wedge
    * the whole micro-batch in an infinite replay-and-refuse loop.
    * Dropping is the documented dead-until-reclaim semantic; after the
    * next compact() the id is free and a later re-crawl ingests
    * normally. No-FS-entry fast path when no logical delete pends. */
  private def exceptLogicallyDeleted(batch: DataFrame, idCol: String,
      indexDir: String): DataFrame =
    graft.operators.LogicalDelete.hide(batch, idCol,
      graft.operators.LogicalDelete.ids(batch.sparkSession, indexDir))

  def indexedDedupStream(docs: DataFrame, idCol: String, textCol: String,
                         indexDir: String, lakeDir: String,
                         checkpointDir: String,
                         availableNow: Boolean = false): StreamingQuery = {
    lazy val runKey = checkpointRunKey(docs.sparkSession, checkpointDir)
    startIndexedLoop(docs, checkpointDir, availableNow) { (batch, batchId) =>
      processIndexedDedupBatch(batch, batchId, idCol, textCol,
        indexDir, lakeDir, runKey)
    }
  }

  /** One micro-batch of [[indexedClusterStream]], exposed for direct
    * replay testing (same marker contract as the dedup loops). */
  private[graft] def processIndexedClusterBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexDir: String, lakeDir: String,
      runKey: String): Unit = {
    val s = batch.sparkSession
    val tag = s"ck${runKey}_b$batchId" // batch-unique: append REQUIRES it
    appliedOnce(s, indexDir, runKey, batchId) {
      if (!batch.isEmpty) {
        // Ids are graph NODES here (ClusterIndex requires them unique
        // across corpus and deltas), so a stable-id re-crawl must not
        // re-enter the graph: appending doc_id 10 twice would give
        // assignments() duplicate rows and, if the re-crawled text
        // changed, attach the NEW text's near-dup edges to the node that
        // already carries the OLD text's — falsely merging clusters.
        // First write wins: drop ids a DIFFERENT batch already ingested
        // (excludeTag keeps this batch's own crashed-append rows from
        // masking its replay). The content-dedup loops don't need this —
        // their indexes are multisets of token/vector rows, where a
        // changed re-crawl is legitimately a new version to dedup against.
        // resurrection guard first (same contract as the dedup loops),
        // plus the dead-until-reclaim logical-id filter
        val pinned = exceptLogicallyDeleted(
            exceptTombstoned(batch, idCol, textCol, indexDir), idCol, indexDir)
          .localCheckpoint() // consumed by filter + append
        val known = graft.operators.ClusterIndex.knownIds(
          s, indexDir, pinned.select(col(idCol)), idCol,
          excludeTag = Some(tag))
        val fresh = pinned
          .join(broadcast(known), Seq(idCol), "left_anti")
          .localCheckpoint()
        // batchId-keyed overwrite: the per-batch FEED is exactly-once
        // under replay, like the dedup loops' lakes. It carries each
        // first-ingest `(id, text, component)` row — re-crawled ids were
        // assigned when first seen — so it is the lake of record
        // rtbfPurgeStream resolves cluster victims from.
        val rows = fresh.select(col(idCol), col(textCol))
        val assigned =
          if (!graft.operators.Fingerprint.tagUsed(
              s.sparkContext.hadoopConfiguration, indexDir, tag))
            graft.operators.ClusterIndex
              .append(fresh, idCol, textCol, indexDir, tag)
          // replay of a fully-committed append (recorded tag): the rows
          // are in the index, and append() would rightly REFUSE a
          // tombstone-shrunk delta under the used tag. Rewrite the
          // batch's feed from the live assignment map instead — ids
          // taken down since simply aren't in it, which is the point;
          // consumers wanting current components read assignments()
          // anyway (the feed is an audit trail).
          else graft.operators.ClusterIndex.assignments(s, indexDir, idCol)
        rows.join(assigned, Seq(idCol))
          .select(col(idCol), col(textCol), col("component"))
          .write.mode("overwrite").parquet(s"$lakeDir/batch=$batchId")
      }
    }
  }

  /** STREAMING near-dup cluster maintenance against the persisted
    * [[graft.operators.ClusterIndex]] — the third leg of the
    * build-once/ingest-forever index family (text near-dup, semantic
    * vector dedup, and now clustering): per micro-batch, APPEND the
    * incoming docs to the index, which assigns each its EXACT
    * union-corpus component (quotient-graph CC over delta edges +
    * delta→component matches, O(|delta| + touched partitions)) and
    * targeted-rewrites any components the batch bridged. The batch's
    * assignments-as-of-ingest land in a batchId-keyed lake subtree as an
    * audit feed; the index's `assign` table is the AUTHORITATIVE live
    * map (a later batch that bridges two clusters amends it there —
    * consumers wanting current components read
    * [[graft.operators.ClusterIndex.assignments]], not the feed).
    *
    * Replay idempotence is the family contract: the applied/ marker
    * skips fully-committed batches; a crash between the append and the
    * marker re-admits exactly the same (tag, delta-fingerprint) pair,
    * whose tag-scoped dynamic overwrite rewrites its own partitions —
    * and append REFUSES a different batch under a used tag, so the
    * ck<runKey>_b<batchId> tags this loop generates are load-bearing. */
  def indexedClusterStream(docs: DataFrame, idCol: String, textCol: String,
                           indexDir: String, lakeDir: String,
                           checkpointDir: String,
                           availableNow: Boolean = false): StreamingQuery = {
    lazy val runKey = checkpointRunKey(docs.sparkSession, checkpointDir)
    startIndexedLoop(docs, checkpointDir, availableNow) { (batch, batchId) =>
      processIndexedClusterBatch(batch, batchId, idCol, textCol,
        indexDir, lakeDir, runKey)
    }
  }

  /** One micro-batch of [[termIngestStream]], exposed for direct replay
    * testing. The term family follows the CLUSTER loop's unique-id
    * discipline (first write wins on stable-id re-crawls — a second
    * version of an id would double its dl/tf mass and corrupt every
    * BM25 sum it touches), with the dedup loops' lake-before-append
    * ordering. Replay contract: the applied/ marker skips committed
    * batches; an uncommitted replay rewrites lake + its own tag-scoped
    * index partitions; a COMMITTED replay (recorded tag, no marker)
    * must not touch the index — append would rightly refuse a
    * tombstone-shrunk delta under the used tag — so it only rewrites
    * the lake feed restricted to ids still in the index (a takedown
    * between crash and replay removes them from both, which is the
    * point). */
  private[graft] def processTermIngestBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexDir: String, lakeDir: String,
      runKey: String): Unit = {
    val s = batch.sparkSession
    val tag = s"ck${runKey}_b$batchId" // batch-unique: append REQUIRES it
    appliedOnce(s, indexDir, runKey, batchId) {
      if (!batch.isEmpty) {
        // resurrection guard + dead-until-reclaim filter, then first
        // write wins (see the cluster loop for the full argument)
        val pinned = exceptLogicallyDeleted(
            exceptTombstoned(batch, idCol, textCol, indexDir), idCol, indexDir)
          .localCheckpoint()
        val known = graft.operators.TermIndex.knownIds(
          s, indexDir, pinned.select(col(idCol)), idCol,
          excludeTag = Some(tag))
        val fresh = pinned
          .join(broadcast(known), Seq(idCol), "left_anti")
          .localCheckpoint()
        if (!graft.operators.Fingerprint.tagUsed(
            s.sparkContext.hadoopConfiguration, indexDir, tag)) {
          // batchId-keyed overwrite: the lake is exactly-once; the
          // append's tag-scoped overwrite makes the index leg the same
          fresh.write.mode("overwrite").parquet(s"$lakeDir/batch=$batchId")
          graft.operators.TermIndex.append(fresh, idCol, textCol,
            indexDir, tag)
        } else {
          // committed-append replay: index untouched; the lake feed is
          // rebuilt from the ids the index still serves
          val inIndex = graft.operators.TermIndex.knownIds(
            s, indexDir, fresh.select(col(idCol)), idCol)
          fresh.join(broadcast(inIndex), Seq(idCol), "leftsemi")
            .write.mode("overwrite").parquet(s"$lakeDir/batch=$batchId")
        }
      }
    }
  }

  /** STREAMING ingest for the persisted BM25 index
    * ([[graft.operators.TermIndex]]) — retrieval joins the
    * build-once/ingest-forever family: per micro-batch, first-ingest
    * rows land in a batchId-keyed lake subtree and append their tf/dl
    * statistics tag-scoped to the index; `TermIndex.topK` serves the
    * union corpus from the next batch on. */
  def termIngestStream(docs: DataFrame, idCol: String, textCol: String,
                       indexDir: String, lakeDir: String,
                       checkpointDir: String,
                       availableNow: Boolean = false): StreamingQuery = {
    lazy val runKey = checkpointRunKey(docs.sparkSession, checkpointDir)
    startIndexedLoop(docs, checkpointDir, availableNow) { (batch, batchId) =>
      processTermIngestBatch(batch, batchId, idCol, textCol,
        indexDir, lakeDir, runKey)
    }
  }

  /** STREAMING right-to-be-forgotten — the continuous face of
    * [[graft.operators.Rtbf.purge]] and the one takedown loop for every
    * index family: per micro-batch of victim IDS, resolve the rows of
    * record from the document lake (and the embedding lake when a
    * vector surface is targeted), record content tombstones in every
    * targeted index family, and drive ONE purge across ALL targeted
    * stores under a batch-derived tag — "purge id X from EVERYTHING",
    * continuously, with the orchestrator's victim manifest, per-store
    * done markers and cross-store agreement certificate refusing silent
    * partial success every batch.
    *
    * Each ingest loop's deployment is one `RtbfTargets` over its
    * batchId-keyed lake (`lakePartitionCols = Seq("batch")`):
    *  - text: the [[indexedDedupStream]] lake with `textIndex`;
    *  - term: the [[termIngestStream]] lake with `termIndex` (pass
    *    `logical = true` for BM25 statistics that are blind and
    *    survivor-exact at once, without a rewrite);
    *  - cluster: the [[indexedClusterStream]] feed, whose rows are
    *    `(id, text, component)`, with `clusterIndex`;
    *  - vector: the [[indexedSemanticDedupStream]] lake as both
    *    `lakeDir` and `vecLakeDir`, `idCol`/`vecIdCol` naming its id
    *    column and `textCol`/`vecCol` its embedding column.
    * A lake that lacks the column a victim resolves from (a cluster feed
    * written before the feed carried text) is refused with an
    * IllegalStateException before anything is written.
    *
    * Content tombstones: every resolved victim row is tombstoned in each
    * family (the vector family from the embedding rows). A feed that
    * also CARRIES a family's content column (`textCol`; `vecCol` for the
    * vector family) tombstones its own rows there too, even when no id
    * resolves: content never ingested, or whose ingest crashed before
    * its index append, still never lands later. An ids-only feed cannot
    * content-hash text it never saw, so it tombstones only what
    * resolves, and a batch that resolves nothing leaves no tag state.
    *
    * Replay contract: the tag is `ck<queryId>_b<batchId>` (the ingest
    * loops' convention). A replayed batch whose purge already COMMITTED
    * its victim manifest routes to [[graft.operators.Rtbf.resume]] —
    * the victim rows come from the manifest snapshot, NEVER re-resolved
    * from a lake the purge may since have scrubbed — after re-recording
    * the batch's tombstones from that same snapshot (tag-keyed
    * overwrite, so the replay is idempotent and a rolled-back refusal
    * retries through the full tombstone-first cycle). A replay that
    * crashed pre-manifest re-resolves from the (unmutated) lakes and
    * re-runs purge(). Once the purge reports complete, every targeted
    * index gets the ingest loops' commit marker `applied/<tag>`, so
    * [[graft.IndexAdmin]] pairs the verbs' recorded `rm.<tag>` with it
    * and lists only crashed batches as unmarkered.
    *
    * Tombstone rollback: if the purge fails with every failure a typed
    * PRE-mutation refusal (RemovalRefused / LeaseConflictException —
    * e.g. a victim in the lake whose ingest crashed before its index
    * append), the batch's tombstones roll back for exactly the index
    * families WITHOUT a done marker, so the crashed ingest's replay
    * completes its append verbatim and the retried batch converges;
    * they stay for any family whose verb completed and on any
    * post-mutation failure (conservative: they only ever block matching
    * content).
    *
    * Scheduling: the PHYSICAL index verbs hold exclusive remove leases
    * for the rewrite wall, so run this loop non-overlapping with ingest
    * loops on the same indexes (trigger offsets or AvailableNow turns).
    * Under CONTINUOUS ingest pass `logical = true`: every index verb
    * becomes the family's tombstone-overlay logicalRemove — serve
    * surfaces go blind just the same, the lakes still scrub physically,
    * the exclusive lease is held ~2 s instead of the rewrite wall, and
    * the agreement certificate shifts to serve-surface blindness (see
    * [[graft.operators.Rtbf.purge]]); the physical bytes reclaim at each
    * family's next compact(), after which a victim id ingests again. */
  def rtbfPurgeStream(victimIds: DataFrame,
                      targets: graft.operators.RtbfTargets,
                      checkpointDir: String,
                      availableNow: Boolean = false,
                      logical: Boolean = false): StreamingQuery = {
    require(targets.vectorIndex.isEmpty || targets.vecLakeDir.nonEmpty,
      "rtbfPurgeStream: a vector index is targeted but no vecLakeDir to " +
        "resolve victim embeddings from — the feed carries ids only, so " +
        "the embedding lake is the store of record for vecVictims")
    lazy val runKey = checkpointRunKey(victimIds.sparkSession, checkpointDir)
    startIndexedLoop(victimIds, checkpointDir, availableNow) { (batch, batchId) =>
      processRtbfPurgeBatch(batch, batchId, targets, runKey, logical)
    }
  }

  /** One micro-batch of [[rtbfPurgeStream]], exposed for direct replay
    * testing (the ingest loops' pattern). */
  private[graft] def processRtbfPurgeBatch(batch: DataFrame, batchId: Long,
      t: graft.operators.RtbfTargets, runKey: String,
      logical: Boolean = false): Unit = {
    val s = batch.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    val tag = s"ck${runKey}_b$batchId"
    // ONE tombstone batch per family per tag (recordTombstones
    // overwrites it): the feed's own rows when it carries the family's
    // content column, plus the resolved victims. The feed column is cast
    // to the lake's type so the union never re-types (and re-hashes) the
    // rows of record.
    def tombstone(vic: Option[DataFrame], vecVic: Option[DataFrame]): Unit =
      indexStores(t).foreach { case (dir, store) =>
        val (idC, valC, resolved) =
          if (store == "idx.vector") (t.vecIdCol, t.vecCol, vecVic)
          else (t.idCol, t.textCol, vic)
        val feed =
          if (!batch.columns.contains(valC)) None
          else Some(batch.select(col(t.idCol).as(idC),
            resolved.fold(col(valC))(r =>
              col(valC).cast(r.schema(valC).dataType)).as(valC)))
        (feed ++ resolved.map(_.select(col(idC), col(valC))))
          .reduceOption(_ unionByName _)
          .foreach(recordTombstones(_, idC, valC, dir, tag))
      }
    if (graft.operators.Rtbf.manifestCommitted(conf, t.lakeDir, tag)) {
      // crash AFTER the snapshot committed: the manifest owns the
      // victim set — re-tombstone from it (idempotent overwrite; also
      // restores a refusal's rollback for the retry), then resume. A
      // purge that COMPLETED and marked every index replays as a no-op:
      // no victim snapshot read, no re-tombstone, no agreement job.
      if (!purgeSettled(conf, t, tag)) {
        val (vic, vecVic) = graft.operators.Rtbf.manifestVictims(s, t.lakeDir, tag)
        tombstone(Some(vic), vecVic)
        runPurge(s, t, tag, vic = None, vecVic = None)
      }
    } else if (!batch.isEmpty) {
      val ids = graft.operators.TargetedDelete.Keys.of(batch, t.idCol)
      def resolve(dir: String, idC: String, valC: String): Option[DataFrame] =
        // takedown before any ingest batch landed a subtree: nothing resolves
        if (!graft.operators.Rtbf.hasData(conf, dir)) None
        else {
          val lake = s.read.parquet(dir)
          val missing = Seq(idC, valC).filterNot(lake.columns.contains)
          if (missing.nonEmpty) throw new IllegalStateException(
            s"rtbfPurgeStream: the lake $dir has no ${missing.mkString(", ")} " +
              "column, so victims cannot resolve their rows of record from " +
              "it (a cluster feed written before the feed carried text is " +
              "one such lake) — re-ingest it, or purge its victims with " +
              "Rtbf.purge and their exact rows as ingested")
          Some(ids.semi(lake.select(col(idC), col(valC)), idC).localCheckpoint())
        }
      val vic = resolve(t.lakeDir, t.idCol, t.textCol)
      val vecVic = t.vecLakeDir.flatMap(resolve(_, t.vecIdCol, t.vecCol))
      if (vic.exists(!_.isEmpty) || vecVic.exists(!_.isEmpty)) {
        // tombstone BEFORE the purge mutates anything: from the moment
        // a victim leaves an index, a replaying crashed-unmarkered
        // ingest batch would re-admit it as novel
        tombstone(vic, vecVic)
        val vicOrEmpty = vic.getOrElse(
          batch.select(col(t.idCol)).limit(0)
            .withColumn(t.textCol, lit(null).cast("string")))
        runPurge(s, t, tag, vic = Some(vicOrEmpty), vecVic = vecVic,
          logical = logical)
      } else tombstone(None, None) // a content-carrying feed's own rows
    }
  }

  /** `tag`'s purge is COMPLETE with every planned store done, and every
    * targeted index holds its `applied/<tag>` marker — the last write of
    * [[runPurge]]. Pure FS metadata. */
  private def purgeSettled(conf: org.apache.hadoop.conf.Configuration,
      t: graft.operators.RtbfTargets, tag: String): Boolean = {
    val safe = graft.operators.Fingerprint.sanitizeTag(tag)
    graft.operators.Rtbf.status(conf, t.lakeDir).find(_.tag == safe)
      .exists(st => st.complete && st.incomplete.isEmpty) &&
      indexStores(t).forall { case (dir, _) =>
        val marker = new org.apache.hadoop.fs.Path(s"$dir/applied/$safe")
        marker.getFileSystem(conf).exists(marker)
      }
  }

  /** (index dir, [[graft.operators.Rtbf]] store name) of every targeted
    * index family. */
  private def indexStores(t: graft.operators.RtbfTargets): Seq[(String, String)] =
    t.textIndex.map(_ -> "idx.text").toSeq ++
      t.clusterIndex.map(_ -> "idx.cluster") ++
      t.termIndex.map(_ -> "idx.term") ++
      t.vectorIndex.map(_ -> "idx.vector")

  /** The purge/resume call, the typed-refusal tombstone rollback and
    * the completion markers (see [[rtbfPurgeStream]]). `vic = None`
    * means resume from the manifest (which carries the purge's recorded
    * mode, so `logical` is only meaningful on the first attempt). */
  private def runPurge(s: org.apache.spark.sql.SparkSession,
      t: graft.operators.RtbfTargets, tag: String,
      vic: Option[DataFrame], vecVic: Option[DataFrame],
      logical: Boolean = false): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    try {
      vic match {
        case Some(v) => graft.operators.Rtbf.purge(v, vecVic, t, tag, logical)
        case None => graft.operators.Rtbf.resume(s, t, tag)
      }
    } catch {
      case e: Throwable
          if (e +: e.getSuppressed.toSeq).forall(x =>
            x.isInstanceOf[graft.operators.Fingerprint.RemovalRefused] ||
              x.isInstanceOf[graft.operators.IndexMaintenance.LeaseConflictException]) =>
        // every failure is a typed PRE-mutation refusal: roll the
        // tombstones back for exactly the families without a done
        // marker (completed verbs keep theirs). A family that neither
        // completed nor refused cannot exist here — the orchestrator
        // marks done before returning from each verb.
        val done = graft.operators.Rtbf
          .status(conf, t.lakeDir)
          .find(_.tag == graft.operators.Fingerprint.sanitizeTag(tag))
          .fold(Set.empty[String])(_.done)
        indexStores(t).collect { case (dir, store) if !done(store) => dir }
          .foreach(clearTombstones(s, _, tag))
        throw e
    }
    // purge() and resume() return only once the purge is COMPLETE
    indexStores(t).foreach { case (dir, _) =>
      val marker = new org.apache.hadoop.fs.Path(
        s"$dir/applied/${graft.operators.Fingerprint.sanitizeTag(tag)}")
      marker.getFileSystem(conf).create(marker, true).close()
    }
  }

  /** One micro-batch of [[indexedSemanticDedupStream]], exposed for
    * direct replay testing (same contract as
    * [[processIndexedDedupBatch]]). */
  private[graft] def processIndexedSemanticBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, indexDir: String, lakeDir: String,
      tau: Double, runKey: String): Unit = {
    val s = batch.sparkSession
    val tag = s"ck${runKey}_b$batchId" // provenance tag, see text sibling
    appliedOnce(s, indexDir, runKey, batchId) { // marker first, see sibling
      // recorded tag => the batch fully committed (lake + rows +
      // fingerprint); replay is a no-op to the marker — see the text
      // sibling for why re-deciding novelty would drift
      val committed = graft.operators.Fingerprint.tagUsed(
        s.sparkContext.hadoopConfiguration, indexDir, tag)
      if (!committed && !batch.isEmpty) {
        // resurrection guard first (same contract as the text loop),
        // plus the dead-until-reclaim logical-id filter
        val live = exceptLogicallyDeleted(
          exceptTombstoned(batch, idCol, vecCol, indexDir), idCol, indexDir)
        val flagged = graft.operators.VectorIndex
          .probeDups(s, indexDir, live, tau, idCol, vecCol, excludeTag = Some(tag))
          .select(col("inc_id"))
        val novel = live
          .join(flagged, live(idCol) === col("inc_id"), "left_anti")
          .localCheckpoint() // consumed twice: lake write + index append
        novel.write.mode("overwrite").parquet(s"$lakeDir/batch=$batchId")
        graft.operators.VectorIndex.append(novel, indexDir, idCol, vecCol, tag)
      }
    }
  }

  /** STREAMING semantic dedup against the persisted IVF index — the
    * embedding-side sibling of [[indexedDedupStream]] (SemDeDup as a
    * continuous-ingest loop): per micro-batch, PROBE the incoming
    * vectors against `indexDir` (partition-pruned cells, frozen
    * quantizer — [[graft.operators.VectorIndex.probeDups]]), write only
    * the semantically NOVEL ones to the lake, and APPEND them to their
    * cells so the very next batch — or any batch job sharing the index —
    * dedups against them in O(|delta|). Replay idempotence is the same
    * marker + provenance-tag-exclusion contract as the text loop; the index
    * fingerprint absorbs each append so staleness checks keep working. */
  def indexedSemanticDedupStream(vecs: DataFrame, idCol: String, vecCol: String,
                                 indexDir: String, lakeDir: String,
                                 checkpointDir: String, tau: Double = 0.9,
                                 availableNow: Boolean = false): StreamingQuery = {
    lazy val runKey = checkpointRunKey(vecs.sparkSession, checkpointDir)
    startIndexedLoop(vecs, checkpointDir, availableNow) { (batch, batchId) =>
      processIndexedSemanticBatch(batch, batchId, idCol, vecCol,
        indexDir, lakeDir, tau, runKey)
    }
  }
}
