package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Rtbf, RtbfReport, RtbfTargets, TermIndex, TextIndex, VectorIndex}

/** `index_serve_takedown`: set-up writes the document and embedding
  * lakes and builds the term, vector and text index families over them.
  * Then two closed loop clients share the engine. The reader cycles term
  * top-k, vector top-k and text probe over a fixed query set. For the
  * measurement time, and at least two rounds of the three, it serves
  * alone; then the writer opens one
  * maintenance window in which it appends a batch to the three families
  * and runs an `Rtbf.purge`, repeating while batches or victim sets
  * remain and alternating physical and logical purges. The families'
  * writes replace files that a concurrent probe reads (the term index's
  * meta, the tombstone batches, the rows a physical purge rewrites), so
  * reads wait for the window; the probe that waits counts the wait in
  * its latency. A call that throws is a failed operation and is not
  * retried. Every victim is probed in all three families in one batch at
  * the end of set-up (each must find itself) and after the window (none
  * may be found). */
object IndexRun {

  /** Probe docs get ids outside the corpus id space. */
  private val ProbeIdBase = 10000000L

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    val nBuckets = ctx.int("n_buckets")
    val threshold = ctx.dbl("threshold")
    val victims = ctx.param("victims").split(";").toSeq.map(_.split(",").toSeq.map(_.toLong))
    val queries = ctx.param("queries").split(",").toSeq.map(_.toLong)
    val allVictims = victims.flatten.toSet
    val schema = "doc_id LONG, text STRING, embedding ARRAY<FLOAT>"
    def read(name: String) = spark.read.schema(schema).json(ctx.input.resolve(name).toString)

    val root = ctx.dir("stores")
    val t = RtbfTargets(
      lakeDir = s"$root/lake", lakePartitionCols = Seq("src"),
      textIndex = Some(s"$root/text"),
      termIndex = Some(s"$root/term"), vectorIndex = Some(s"$root/vector"),
      vecLakeDir = Some(s"$root/veclake"), vecLakePartitionCols = Seq("label"))

    // the reader's probe inputs, built once on the driver
    val qrows = read("corpus.json").filter(col("doc_id").isin(queries: _*))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2).toArray))
      .sortBy(_._1)
    // (query, span name, the result column naming corpus documents, probe)
    val probes: Seq[(Long, String, String, () => DataFrame)] = qrows.toSeq.flatMap {
      case (id, text, emb) =>
        val pid = ProbeIdBase + id
        Seq(
          (id, "term_topk", "doc_id", () => TermIndex.topK(spark, t.termIndex.get,
            Seq((pid, text)).toDF("query_id", "q"), k = 5)),
          (id, "vector_topk", "vec_id", () => VectorIndex.topK(spark, t.vectorIndex.get,
            Seq((pid, emb)).toDF("q_id", "q_emb"), k = 5, nprobe = 2)),
          (id, "text_probe", "ref_id", () => TextIndex.probe(spark, t.textIndex.get,
            Seq((pid, text)).toDF("doc_id", "text"), "doc_id", "text", threshold)))
    }

    var before = Map.empty[String, Seq[Seq[Long]]]
    val setup = ctx.span("setup.stores")(Main.timed {
      val corpus = read("corpus.json")
      corpus.select(col("doc_id"), col("text"), (col("doc_id") % 4).cast("string").as("src"))
        .write.partitionBy("src").parquet(t.lakeDir)
      corpus.select(col("doc_id").as("vec_id"), col("embedding"),
          (col("doc_id") % 4).cast("int").as("label"))
        .write.partitionBy("label").parquet(t.vecLakeDir.get)
      val docs = spark.read.parquet(t.lakeDir).select(col("doc_id"), col("text"))
      val vecs = spark.read.parquet(t.vecLakeDir.get).select(col("vec_id"), col("embedding"))
      parallel(
        () => ctx.span("setup.text_build")(
          TextIndex.build(docs, "doc_id", "text", t.textIndex.get, nBuckets = nBuckets)),
        () => ctx.span("setup.term_build")(
          TermIndex.build(docs, "doc_id", "text", t.termIndex.get, nBuckets = nBuckets)),
        () => ctx.span("setup.vector_build")(
          VectorIndex.build(vecs, t.vectorIndex.get, nlist = ctx.int("nlist"))))
      // serving warm-up, and the control for the check after the window:
      // each victim's own text and vector find it in every family
      before = victimProbe(ctx, t, qrows.filter(q => allVictims(q._1)), threshold)
    }._1)

    val readerOps = new ConcurrentLinkedQueue[Map[String, Any]]()
    val writerOps = new ConcurrentLinkedQueue[Map[String, Any]]()
    @volatile var writerDone = false
    @volatile var windowMs = (0L, 0L)
    // reads share it; the maintenance window holds it exclusively. Fair,
    // so the window is not starved by the next probe
    val window = new java.util.concurrent.locks.ReentrantReadWriteLock(true)
    val t0 = System.currentTimeMillis()

    // the window opens once the measurement time has passed and the reader
    // has completed two rounds of the three families
    val served = new java.util.concurrent.CountDownLatch(2 * 3)
    val reader = new Thread(() => {
      var i = 0
      while (!writerDone) {
        val (qid, name, idCol, probe) = probes(i % probes.size)
        readerOps.add(op(name, Map("query" -> qid)) {
          window.readLock().lock()
          try ctx.span(s"index.$name")(probe().select(idCol).collect().map(_.getLong(0)).toSeq)
          finally window.readLock().unlock()
        })
        served.countDown()
        i += 1
      }
    }, "perfbench-reader")

    def append(b: Int): Map[String, Any] = {
      val delta = read(s"append$b.json")
      val docs = delta.select(col("doc_id"), col("text")).localCheckpoint()
      val vecs = delta.select(col("doc_id").as("vec_id"), col("embedding")).localCheckpoint()
      op("append", Map("batch" -> b)) {
        parallel(
          () => ctx.span("index.text_append")(
            TextIndex.append(docs, "doc_id", "text", t.textIndex.get, tag = s"a$b")),
          () => ctx.span("index.term_append")(
            TermIndex.append(docs, "doc_id", "text", t.termIndex.get, tag = s"a$b")),
          () => ctx.span("index.vector_append")(
            VectorIndex.append(vecs, t.vectorIndex.get, tag = s"a$b")))
        Seq.empty[Long]
      }
    }

    // after the serving phase, one maintenance window for every append and
    // purge, alternating physical and logical purges
    val writer = new Thread(() => {
      try {
        Thread.sleep(math.max(0L, t0 + (ctx.seconds * 1000).toLong - System.currentTimeMillis()))
        served.await()
        window.writeLock().lock()
        val start = System.currentTimeMillis()
        try {
          val appends = ctx.int("append_batches")
          (0 until math.max(appends, victims.size)).foreach { b =>
            if (b < appends) writerOps.add(append(b))
            if (b < victims.size) writerOps.add(purge(ctx, t, victims(b), b, logical = b % 2 == 1))
          }
        } finally {
          windowMs = (start, System.currentTimeMillis())
          window.writeLock().unlock()
        }
      } finally writerDone = true
    }, "perfbench-writer")

    reader.start()
    writer.start()
    writer.join()
    reader.join()
    val after = ctx.span("check")(victimProbe(ctx, t, qrows.filter(q => allVictims(q._1)),
      threshold))
    Map("setup_s" -> Seq(setup),
      "maintenance_ms" -> Seq(windowMs._1, windowMs._2),
      "victim_probe_before" -> before,
      "victim_probe_after" -> after,
      "reader" -> readerOps.asScala.toSeq,
      "writer" -> writerOps.asScala.toSeq)
  }

  /** Probe every family once, side by side, with all of `qs` (id, text,
    * embedding): per family, every (query id, result id) pair. */
  private def victimProbe(ctx: Ctx, t: RtbfTargets, qs: Seq[(Long, String, Array[Float])],
                          threshold: Double): Map[String, Seq[Seq[Long]]] = {
    val spark = ctx.spark
    import spark.implicits._
    def pairs(df: DataFrame, q: String, r: String): Seq[Seq[Long]] =
      df.select(col(q), col(r)).collect().map(x => Seq(x.getLong(0), x.getLong(1))).toSeq
    val Seq(term, vector, text) = parallel(
      () => pairs(TermIndex.topK(spark, t.termIndex.get,
        qs.map(q => (q._1, q._2)).toDF("query_id", "q"), k = 5), "query_id", "doc_id"),
      () => pairs(VectorIndex.topK(spark, t.vectorIndex.get,
        qs.map(q => (q._1, q._3)).toDF("q_id", "q_emb"), k = 5, nprobe = 2), "q_id", "vec_id"),
      () => pairs(TextIndex.probe(spark, t.textIndex.get,
        qs.map(q => (q._1, q._2)).toDF("doc_id", "text"), "doc_id", "text", threshold),
        "inc_id", "ref_id"))
    Map("term" -> term, "vector" -> vector, "text" -> text)
  }

  /** One purge of `ids`, with the exact rows as ingested read back from
    * the two lakes first (outside the timed call). */
  private def purge(ctx: Ctx, t: RtbfTargets, ids: Seq[Long], n: Int,
                    logical: Boolean): Map[String, Any] = {
    val spark = ctx.spark
    val vic = spark.read.parquet(t.lakeDir).filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("text")).localCheckpoint()
    val vecVic = spark.read.parquet(t.vecLakeDir.get).filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    var report: Option[RtbfReport] = None
    val rec = op(if (logical) "logical_purge" else "purge", Map("victims" -> ids)) {
      report = Some(ctx.span(s"maintenance.${if (logical) "logical_purge" else "purge"}")(
        Rtbf.purge(vic, Some(vecVic), t, tag = s"p$n", logical = logical)))
      Seq.empty[Long]
    }
    rec ++ Map(
      "complete" -> report.exists(_.complete),
      "stores" -> report.map(_.stores.map(s => s.store -> s.seconds).toMap).getOrElse(Map.empty))
  }

  /** Run and time one client operation; it fails if it throws, and the
    * error is kept. */
  private def op(kind: String, extra: Map[String, Any])(f: => Seq[Long]): Map[String, Any] = {
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ids, errors) =
      try (Some(f), Seq.empty[String])
      catch { case e: Exception => (None, Seq(s"${e.getClass.getName}: ${e.getMessage}")) }
    extra ++ Map("kind" -> kind, "start_ms" -> start,
      "end_ms" -> System.currentTimeMillis(), "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "ok" -> ids.nonEmpty, "ids" -> ids.getOrElse(Seq.empty), "errors" -> errors)
  }

  /** Run independent calls on their own threads, wait for all and return
    * their results in order; the first failure is rethrown after every
    * call has settled. */
  private def parallel[T](fs: (() => T)*): Seq[T] = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val out = new java.util.concurrent.ConcurrentHashMap[Int, T]()
    val threads = fs.zipWithIndex.map { case (f, i) => new Thread(() =>
      try out.put(i, f()) catch { case e: Throwable => errors.add(e) }) }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
    fs.indices.map(out.get)
  }
}
