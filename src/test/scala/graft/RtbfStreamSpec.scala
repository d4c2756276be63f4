package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.streaming.S4Stream

/** STREAMING single-call RTBF (r18): [[S4Stream.rtbfPurgeStream]] —
  * per micro-batch of victim IDS, resolve the rows of record from the
  * lakes, tombstone every targeted index family, and drive ONE
  * [[Rtbf.purge]] across all stores under the batch-derived tag; a
  * replayed batch whose manifest committed resumes from the snapshot
  * (never re-resolving from a lake the purge may have scrubbed), and a
  * purge refused entirely PRE-mutation rolls back exactly the refusing
  * families' tombstones. */
class RtbfStreamSpec extends SparkSpec {
  import spark.implicits._

  private def span(a: Int, b: Int): String =
    (a until b).map(i => s"w$i").mkString(" ")

  /** The [[RtbfSpec]] six-store corpus (kept in sync by hand — the two
    * suites exercise the same orchestrator from its two faces): near-dup
    * chain 1-2-3, pair 4-5, singletons 6/7/8; deterministic 4-dim
    * embeddings keyed by the same ids. */
  private def fixture(tmpTag: String): (String, RtbfTargets) = {
    val base = java.nio.file.Files.createTempDirectory(tmpTag).toString
    val docs = Seq(
      (1L, span(0, 50)), (2L, span(5, 55)), (3L, span(10, 60)),
      (4L, span(100, 150)), (5L, span(105, 155)),
      (6L, span(200, 260)), (7L, span(300, 360)), (8L, span(400, 460)))
      .toDF("doc_id", "text")
      .withColumn("src", (col("doc_id") % 2).cast("string"))
    val emb = (1L to 8L).map(i => (i,
        Array(i.toFloat, (i * 3 % 7).toFloat, (i * 5 % 11).toFloat, 1.0f),
        (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    val lake = s"$base/lake"
    val vecLake = s"$base/veclake"
    docs.write.partitionBy("src").parquet(lake)
    emb.write.partitionBy("label").parquet(vecLake)
    val t = RtbfTargets(
      lakeDir = lake, lakePartitionCols = Seq("src"),
      textIndex = Some(s"$base/textidx"),
      clusterIndex = Some(s"$base/clusteridx"),
      termIndex = Some(s"$base/termidx"),
      vectorIndex = Some(s"$base/vecidx"),
      vecLakeDir = Some(vecLake), vecLakePartitionCols = Seq("label"))
    val docsIdx = docs.select(col("doc_id"), col("text"))
    TextIndex.build(docsIdx, "doc_id", "text", t.textIndex.get)
    ClusterIndex.build(docsIdx, "doc_id", "text", t.clusterIndex.get)
    TermIndex.build(docsIdx, "doc_id", "text", t.termIndex.get)
    VectorIndex.build(emb.select(col("vec_id"), col("embedding")),
      t.vectorIndex.get, nlist = 2)
    (base, t)
  }

  private def victimsEverywhere(t: RtbfTargets, ids: Seq[Long]): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def root(d: String) = IndexMaintenance.liveRoot(conf, d)
    Map(
      "lake.doc" -> spark.read.parquet(t.lakeDir)
        .filter(col("doc_id").isin(ids: _*)).count(),
      "lake.vec" -> spark.read.parquet(t.vecLakeDir.get)
        .filter(col("vec_id").isin(ids: _*)).count(),
      "idx.text" -> spark.read.parquet(s"${root(t.textIndex.get)}/bands")
        .filter(col("doc_id").isin(ids: _*)).count(),
      "idx.cluster" -> ClusterIndex.assignments(spark, t.clusterIndex.get, "doc_id")
        .filter(col("doc_id").isin(ids: _*)).count(),
      "idx.term" -> spark.read.parquet(s"${root(t.termIndex.get)}/dl")
        .filter(col("doc_id").isin(ids: _*)).count(),
      "idx.vector" -> spark.read.parquet(s"${root(t.vectorIndex.get)}/cells")
        .filter(col("vec_id").isin(ids: _*)).count(),
    ).filter(_._2 > 0L)
  }

  private def tombstoneDirs(t: RtbfTargets): Seq[String] = Seq(
    t.textIndex.get, t.clusterIndex.get, t.termIndex.get, t.vectorIndex.get)

  private def hasTombstones(dir: String, tag: String): Boolean = {
    val safe = Fingerprint.sanitizeTag(tag)
    val p = new org.apache.hadoop.fs.Path(s"$dir/removed/batch=$safe")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether IndexAdmin lists `tag` as a recorded-but-unmarkered
    * stream batch in every index family: true while a purge is short
    * of COMPLETE, false once its applied/ markers landed. */
  private def assertUnmarkered(t: RtbfTargets, tag: String,
                               expected: Boolean): Unit =
    tombstoneDirs(t).foreach { d =>
      val listed = IndexAdmin.report(spark.sparkContext.hadoopConfiguration, d)
        .unmarkeredRecordedTags
      assert(listed.exists(_.stripPrefix("rm.") == tag) == expected,
        s"IndexAdmin under $d lists $listed; expected $tag listed = $expected")
    }

  private def writeLines(dir: java.nio.file.Path, name: String,
                         lines: Seq[String]): Unit = {
    val f = dir.resolve(name)
    java.nio.file.Files.write(f, lines.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def tmp(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(tag)

  test("one streamed batch of ids scrubs all six stores and tombstones every family") {
    val (_, t) = fixture("rtbfs_happy")
    val conf = spark.sparkContext.hadoopConfiguration
    val in = tmp("rtbfs_in"); val ck = tmp("rtbfs_ck")
    // 2 is the 1-2-3 bridge (forces the cluster re-split leg), 6 a singleton
    writeLines(in, "t1.json", Seq("""{"doc_id": 2}""", """{"doc_id": 6}"""))
    val src = spark.readStream.schema("doc_id LONG").json(in.toString)
    S4Stream.rtbfPurgeStream(src, t, ck.toString, availableNow = true)
      .awaitTermination()
    assert(victimsEverywhere(t, Seq(2L, 6L)).isEmpty,
      s"leftovers: ${victimsEverywhere(t, Seq(2L, 6L))}")
    val st = Rtbf.status(conf, t.lakeDir)
    assert(st.size == 1 && st.head.complete && st.head.incomplete.isEmpty,
      s"$st")
    // every family carries the batch's content tombstones — the ingest
    // loops' resurrection guard (tag = ck<queryId>_b0)
    val tag = st.head.tag
    tombstoneDirs(t).foreach(d =>
      assert(hasTombstones(d, tag), s"missing tombstones under $d"))
    assertUnmarkered(t, tag, expected = false)
    // survivors intact
    assert(spark.read.parquet(t.lakeDir).count() == 6L)
    // replaying the committed batch directly resumes as a no-op
    val runKey = tag.stripPrefix("ck").split("_b0").head
    S4Stream.processRtbfPurgeBatch(Seq(2L, 6L).toDF("doc_id"), 0L, t, runKey)
    assert(victimsEverywhere(t, Seq(2L, 6L)).isEmpty &&
      spark.read.parquet(t.lakeDir).count() == 6L)
  }

  test("crash after the index verbs: the replayed batch resumes from the manifest, not the scrubbed-lake rows") {
    val (_, t) = fixture("rtbfs_crash")
    val conf = spark.sparkContext.hadoopConfiguration
    val batch = Seq(6L).toDF("doc_id")
    // die between the vec-lake verb and its marker: all four index
    // verbs completed (done-markered), the vec lake scrubbed but
    // unmarkered, and the DOC lake — the system of record, last by
    // design — never ran, so it still holds the row
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("rtbf.verb.lake.vec")(
        S4Stream.processRtbfPurgeBatch(batch, 0L, t, "runRt"))
    }
    val st0 = Rtbf.status(conf, t.lakeDir)
    assert(st0.size == 1 && !st0.head.complete &&
      st0.head.incomplete == Seq("lake.vec", "lake.doc"), s"$st0")
    assert(spark.read.parquet(t.lakeDir)
      .filter(col("doc_id") === 6L).count() == 1L,
      "the doc lake must still hold the victim at the crash point")
    assertUnmarkered(t, "ckrunRt_b0", expected = true)
    // the stream restart replays batch 0: manifest committed => resume
    S4Stream.processRtbfPurgeBatch(batch, 0L, t, "runRt")
    assert(victimsEverywhere(t, Seq(6L)).isEmpty)
    assert(Rtbf.status(conf, t.lakeDir).head.complete)
    tombstoneDirs(t).foreach(d =>
      assert(hasTombstones(d, "ckrunRt_b0"), s"missing tombstones under $d"))
    assertUnmarkered(t, "ckrunRt_b0", expected = false)
  }

  test("a lease conflict on one family rolls back ONLY that family's tombstones; the replay re-records and converges") {
    val (_, t) = fixture("rtbfs_lease")
    val conf = spark.sparkContext.hadoopConfiguration
    val batch = Seq(6L).toDF("doc_id")
    // hold the term index's exclusive remove lease: the term verb's
    // acquire conflicts (typed, PRE-mutation) while the other three
    // families complete concurrently and keep their done markers
    val e = intercept[Exception] {
      IndexMaintenance.withLease(conf, t.termIndex.get, "remove") {
        S4Stream.processRtbfPurgeBatch(batch, 0L, t, "runRt")
      }
    }
    assert(e.isInstanceOf[IndexMaintenance.LeaseConflictException] ||
      e.isInstanceOf[Fingerprint.RemovalRefused], s"unexpected: $e")
    val st0 = Rtbf.status(conf, t.lakeDir)
    assert(st0.size == 1 && !st0.head.complete, s"$st0")
    assert(!st0.head.done("idx.term"), s"term must not be done: $st0")
    // rollback precision: the refused family's tombstones are gone, the
    // completed families keep theirs
    assert(!hasTombstones(t.termIndex.get, "ckrunRt_b0"),
      "the refused term family's tombstones must roll back")
    st0.head.done.collect {
      case "idx.text" => t.textIndex.get
      case "idx.cluster" => t.clusterIndex.get
      case "idx.vector" => t.vectorIndex.get
    }.foreach(d => assert(hasTombstones(d, "ckrunRt_b0"),
      s"completed family $d must keep its tombstones"))
    // lease released: the replay re-records the term tombstones from the
    // manifest snapshot and resumes through the owed stores
    S4Stream.processRtbfPurgeBatch(batch, 0L, t, "runRt")
    assert(victimsEverywhere(t, Seq(6L)).isEmpty)
    assert(Rtbf.status(conf, t.lakeDir).head.complete)
    assert(hasTombstones(t.termIndex.get, "ckrunRt_b0"),
      "the retry must restore the term family's tombstones")
  }

  test("ids never ingested skip without leaving tag state") {
    val (_, t) = fixture("rtbfs_skip")
    val conf = spark.sparkContext.hadoopConfiguration
    S4Stream.processRtbfPurgeBatch(Seq(99L).toDF("doc_id"), 0L, t, "runRt")
    assert(Rtbf.status(conf, t.lakeDir).isEmpty,
      "an all-unknown batch must not commit a manifest")
    tombstoneDirs(t).foreach(d => assert(!hasTombstones(d, "ckrunRt_b0"),
      s"no tombstones may land for an all-unknown batch: $d"))
    assert(spark.read.parquet(t.lakeDir).count() == 8L)
  }
}
