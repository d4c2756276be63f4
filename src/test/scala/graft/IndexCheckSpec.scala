package graft

import org.apache.spark.sql.functions._
import graft.operators.{ClusterIndex, IndexMaintenance, TextIndex, VectorIndex}

/** The data-plane fsck must (a) read a HEALTHY index of every family as
  * clean — including mid-lifecycle states the control plane makes look
  * scary (pending tombstones, post-append) — and (b) name the exact
  * broken invariant when real damage is planted, with a non-zero
  * violation count. Every planting below is a plausible ops accident:
  * a lost table partition, a label mangled by a bad manual fix, a
  * restore that brought back the wrong meta, a flipped cell value. */
class IndexCheckSpec extends SparkSpec {
  import spark.implicits._
  import IndexFixtures.{span, tmpIdx}

  private def conf = spark.sparkContext.hadoopConfiguration

  /** In-place single-table surgery: read, transform, write back. */
  private def mangle(path: String)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val cur = spark.read.parquet(path).localCheckpoint()
    f(cur).write.mode("overwrite").parquet(path)
  }

  private def failedNames(r: IndexCheck.DataReport): Set[String] =
    r.failed.map(_.name).toSet

  test("healthy indexes of all three families read clean, families detected") {
    val docs = Seq((10L, span(0, 50)), (20L, span(5, 55)), (30L, span(10, 60)),
      (40L, span(200, 260))).toDF("doc_id", "text")
    val cDir = tmpIdx("ick_c"); val tDir = tmpIdx("ick_t")
    ClusterIndex.build(docs, "doc_id", "text", cDir)
    TextIndex.build(docs, "doc_id", "text", tDir)
    val vecs = (0L until 40L)
      .map(i => (i, (i % 4).toInt, Array.tabulate(8)(d => ((i * 7 + d) % 13).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val vDir = tmpIdx("ick_v")
    VectorIndex.build(vecs, vDir, nlist = 4)

    val rc = IndexCheck.check(spark, cDir)
    assert(rc.family == "cluster" && rc.ok, IndexCheck.format(rc))
    val rt = IndexCheck.check(spark, tDir)
    assert(rt.family == "text" && rt.ok, IndexCheck.format(rt))
    val rv = IndexCheck.check(spark, vDir)
    assert(rv.family == "vector" && rv.ok, IndexCheck.format(rv))

    // mid-lifecycle healthy states stay clean: an append, then a pending
    // logical delete (row-count must be tombstone-adjusted, not confused)
    ClusterIndex.append(Seq((50L, span(300, 360))).toDF("doc_id", "text"),
      "doc_id", "text", cDir, tag = "ap1")
    ClusterIndex.logicalRemove(Seq((20L, span(5, 55))).toDF("doc_id", "text"),
      "doc_id", "text", cDir, tag = "rm1")
    val rc2 = IndexCheck.check(spark, cDir)
    assert(rc2.ok, IndexCheck.format(rc2))
  }

  test("cluster: a mangled component label and a lost toks slice are named") {
    val docs = Seq((10L, span(0, 50)), (20L, span(5, 55)),
      (30L, span(200, 260))).toDF("doc_id", "text")
    val dir = tmpIdx("ick_cm")
    ClusterIndex.build(docs, "doc_id", "text", dir)
    val root = IndexMaintenance.liveRoot(conf, dir)
    // a bad manual "fix" rewrites one component label off its min member
    mangle(s"$root/assign")(df => df.withColumn("component",
      when(col("doc_id") === 30L, lit(31L)).otherwise(col("component"))))
    val r = IndexCheck.check(spark, dir)
    assert(failedNames(r).contains("canonical-labels"), IndexCheck.format(r))
    // a lost toks row (partial restore): id-cover and postings drift fire
    mangle(s"$root/toks")(_.filter(col("doc_id") =!= 30L))
    val r2 = IndexCheck.check(spark, dir)
    assert(failedNames(r2).contains("id-cover"), IndexCheck.format(r2))
    assert(failedNames(r2).contains("postings-multiplicity"),
      IndexCheck.format(r2))
  }

  test("text: a restored-wrong meta (seed drift) fails band-integrity; a lost band slice fails too") {
    val docs = Seq((1L, span(0, 30)), (2L, span(5, 35)), (3L, span(100, 140)))
      .toDF("doc_id", "text")
    val dir = tmpIdx("ick_tm")
    TextIndex.build(docs, "doc_id", "text", dir, seed = 42)
    val root = IndexMaintenance.liveRoot(conf, dir)
    // restore brought back a meta row from a DIFFERENT build (other seed):
    // the stored bands no longer derive from the advertised parameters
    mangle(s"$root/meta")(_.withColumn("seed", lit(43)))
    val r = IndexCheck.check(spark, dir)
    assert(failedNames(r).contains("band-integrity"), IndexCheck.format(r))
    // fix meta back, then lose one id's band rows
    mangle(s"$root/meta")(_.withColumn("seed", lit(42)))
    assert(IndexCheck.check(spark, dir).ok)
    mangle(s"$root/bands")(_.filter(col("doc_id") =!= 2L))
    val r2 = IndexCheck.check(spark, dir)
    assert(failedNames(r2).contains("band-integrity"), IndexCheck.format(r2))
  }

  test("term: healthy clean; lost postings slice and stale dl are named") {
    import graft.operators.TermIndex
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "gamma alpha alpha epsilon")).toDF("doc_id", "text")
    val dir = tmpIdx("ick_term")
    TermIndex.build(docs, "doc_id", "text", dir)
    val r0 = IndexCheck.check(spark, dir)
    assert(r0.family == "term" && r0.ok, IndexCheck.format(r0))
    val root = IndexMaintenance.liveRoot(conf, dir)
    // partial postings loss: dl no longer equals the posted token mass
    mangle(s"$root/postings")(_.filter(
      !(col("doc_id") === 2L && col("term") === "beta")))
    val r = IndexCheck.check(spark, dir)
    assert(failedNames(r).contains("dl-consistency"), IndexCheck.format(r))
    // whole doc's postings gone: id cover breaks too
    mangle(s"$root/postings")(_.filter(col("doc_id") =!= 2L))
    val r2 = IndexCheck.check(spark, dir)
    assert(failedNames(r2).contains("id-cover"), IndexCheck.format(r2))
  }

  test("term: a drifted meta sum_dl is a named corpus-stats violation (r16)") {
    import graft.operators.TermIndex
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta beta delta"))
      .toDF("doc_id", "text")
    val dir = tmpIdx("ick_tms")
    TermIndex.build(docs, "doc_id", "text", dir)
    val root = IndexMaintenance.liveRoot(conf, dir)
    assert(IndexCheck.check(spark, dir).ok)
    mangle(s"$root/meta")(_.withColumn("sum_dl", col("sum_dl") + 5L))
    val r = IndexCheck.check(spark, dir)
    assert(failedNames(r) === Set("corpus-stats"), IndexCheck.format(r))
  }

  test("a clean pass stamps the fsck recency marker; a failing one does not (r16)") {
    import graft.operators.TermIndex
    val docs = Seq((1L, "alpha beta"), (2L, "beta delta")).toDF("doc_id", "text")
    val dir = tmpIdx("ick_stamp")
    TermIndex.build(docs, "doc_id", "text", dir)
    assert(IndexCheck.lastFsckAgeMs(conf, dir).isEmpty, "no marker pre-audit")
    assert(IndexCheck.check(spark, dir, record = false).ok)
    assert(IndexCheck.lastFsckAgeMs(conf, dir).isEmpty,
      "record=false must not stamp")
    assert(IndexCheck.check(spark, dir).ok)
    val age = IndexCheck.lastFsckAgeMs(conf, dir)
    assert(age.exists(_ < 600000L), s"clean pass must stamp recency: $age")
    // break the index: a failing audit must NOT advance the clock
    val root = IndexMaintenance.liveRoot(conf, dir)
    mangle(s"$root/meta")(_.withColumn("sum_dl", col("sum_dl") + 3L))
    Thread.sleep(5)
    val before = IndexCheck.lastFsckAgeMs(conf, dir).get
    assert(!IndexCheck.check(spark, dir).ok)
    assert(IndexCheck.lastFsckAgeMs(conf, dir).get >= before,
      "failing audit advanced the verified-good clock")
  }

  test("vector column recovered by type: a non-'embedding' name audits clean") {
    // review-caught: the recovery used the literal name "embedding" with
    // a first-leftover fallback that SWAPPED vec/id on any other name
    val vecs = (0L until 16L)
      .map(i => (i, Array.tabulate(4)(d => ((i * 3 + d) % 7).toFloat)))
      .toDF("row_id", "vec")
    val dir = tmpIdx("ick_vn")
    VectorIndex.build(vecs, dir, nlist = 2, corpusId = "row_id",
      corpusVec = "vec")
    val r = IndexCheck.check(spark, dir)
    assert(r.family == "vector" && r.ok, IndexCheck.format(r))
  }

  test("cluster: an emptied toks table is a named violation, not a crash") {
    // review-caught: sum(size(_toks)) over zero rows is null — the fsck
    // must report the most-damaged input it exists to diagnose
    val docs = Seq((1L, span(0, 30)), (2L, span(100, 140)))
      .toDF("doc_id", "text")
    val dir = tmpIdx("ick_ce")
    ClusterIndex.build(docs, "doc_id", "text", dir)
    val root = IndexMaintenance.liveRoot(conf, dir)
    mangle(s"$root/toks")(_.filter(col("doc_id") < 0L))
    val r = IndexCheck.check(spark, dir)
    assert(failedNames(r).contains("id-cover") &&
      failedNames(r).contains("postings-multiplicity"), IndexCheck.format(r))
  }

  test("vector: a flipped cell, a stale norm, and silent row loss are named") {
    val vecs = (0L until 32L)
      .map(i => (i, (i % 2).toInt, Array.tabulate(6)(d => ((i * 5 + d) % 11).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val dir = tmpIdx("ick_vm")
    VectorIndex.build(vecs, dir, nlist = 4)
    val root = IndexMaintenance.liveRoot(conf, dir)
    // one vector filed under the wrong cell (e.g. a hand-moved file)
    val someCell = spark.read.parquet(s"$root/cells")
      .select(col("cell")).head().getInt(0)
    mangle(s"$root/cells")(df => df.withColumn("cell",
      when(col("vec_id") === 3L, lit((someCell + 1) % 4))
        .otherwise(col("cell"))))
    val r = IndexCheck.check(spark, dir)
    assert(failedNames(r).contains("cell-assignment"), IndexCheck.format(r))
    // silent row loss without a meta update
    mangle(s"$root/cells")(_.filter(col("vec_id") =!= 3L))
    val r2 = IndexCheck.check(spark, dir)
    assert(failedNames(r2).contains("row-count"), IndexCheck.format(r2))
    // a stale cached norm
    mangle(s"$root/cells")(df => df.withColumn("norm",
      when(col("vec_id") === 5L, col("norm") + 1.0).otherwise(col("norm"))))
    val r3 = IndexCheck.check(spark, dir)
    assert(failedNames(r3).contains("norm-cache"), IndexCheck.format(r3))
  }
}
