package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{ClusterIndex, FaultInjection, Fingerprint, IndexMaintenance, IndexSnapshot,
  LogicalDelete, TermIndex, TextIndex, VectorIndex}

/** The one removal crash matrix over the seven removal verbs (text,
  * vector and term × remove/logicalRemove, plus cluster logicalRemove),
  * run by each verb's own spec over its slice of `RemovalCrashMatrix.verbs`.
  * The envelope commits rows first: state, rows, meta, record. The matrix
  * arms every step that leaves removal state behind; per step, the
  * crashed index must
  *  1. refuse a removal under another tag and a compact, both with
  *     "never completed";
  *  2. accept an unrelated append;
  *  3. serve no victim whenever its meta already leaves the victims out
  *     (meta may lag the served rows across a crash, never lead them);
  *  4. replay the crashed removal to convergence: no probe or topK
  *     returns a victim, the physical verbs' tables hold no victim row,
  *     `isFresh(survivors + append)` holds, no removal state pends, and
  *     IndexCheck is clean;
  *  5. pass its family check: term meta stats equal the stored stats and
  *     topK equals a fresh build (and compact reclaims a tombstone left);
  *     the cluster reclaim splits the victim's component.
  * Each family's base index is built once per run; every step works on a
  * filesystem copy of it, and the steps run concurrently (the armed
  * crash step is thread-scoped). */
trait RemovalCrashMatrix { self: SparkSpec =>
  import IndexFixtures.{copyOf, concurrently, span, termCorpus, termMetaStats,
    termStoredStats, tmpIdx}

  private def conf = spark.sparkContext.hadoopConfiguration

  private def root(dir: String): String = IndexMaintenance.liveRoot(conf, dir)

  /** What isFresh compares with a corpus fingerprint (an in-memory
    * corpus has no file statuses for its fast path). */
  private def metaFp(dir: String): Option[(Long, Long)] =
    IndexSnapshot.fingerprint(spark, dir, root(dir))

  private def rows(rs: (Long, String)*): DataFrame = IndexFixtures.docs(spark, rs: _*)
  private def textRows(ids: Seq[Long]): DataFrame = IndexFixtures.textRows(spark, ids)
  private def vecRows(ids: Seq[Long]): DataFrame = IndexFixtures.vecRows(spark, ids)

  /** One index family: its base corpus, the victims, another tag's
    * victims, an unrelated append, its entry points over (dir, frame),
    * whether any victim is served, and its check of a converged index,
    * which asserts that no victim is served (by default, via `served`). */
  private case class Family(name: String, base: DataFrame, victims: DataFrame,
                            other: DataFrame, extra: DataFrame, idCol: String,
                            build: (DataFrame, String) => Unit,
                            append: (DataFrame, String, String) => Unit,
                            compact: String => Unit, fpCols: Seq[String],
                            served: String => Boolean,
                            check: Option[String => Unit] = None) {
    def converged(dir: String): Unit = check.fold[Unit](
      assert(!served(dir), "a victim is served after the replay"))(_(dir))
    lazy val victimIds: Seq[Long] = {
      val s = victims.sparkSession
      import s.implicits._
      victims.select(idCol).as[Long].collect().toSeq
    }
    private def survivors = base.join(victims.select(idCol), Seq(idCol), "left_anti")
    // the fingerprints isFresh compares meta with, computed once
    lazy val survivorFp: (Long, Long) = Fingerprint.of(survivors, fpCols)
    lazy val convergedFp: (Long, Long) =
      Fingerprint.of(survivors.unionByName(extra), fpCols)
  }

  /** One removal verb under crash: its crash-step prefix and the step
    * ids it arms, the call over (victims, dir, tag), the tables its
    * victims must leave (physical verbs), and an extra check of the
    * crashed index. */
  private case class CrashVerb(family: Family, prefix: String, steps: Seq[String],
                               run: (DataFrame, String, String) => Unit,
                               tables: Seq[String] = Nil,
                               crashed: (String, String) => Unit = (_, _) => ())

  /** Runs the matrix over the verbs whose crash-step prefixes are given
    * (each one of `RemovalCrashMatrix.verbs`). */
  def removalCrashMatrix(prefixes: String*): Unit = {
    require(prefixes.nonEmpty && prefixes.forall(RemovalCrashMatrix.verbs.contains),
      s"unknown removal verbs: $prefixes")
    val text = Family("text", textRows(1L to 6L), textRows(Seq(3L)), textRows(Seq(5L)),
      textRows(Seq(40L)), "doc_id",
      (d, dir) => TextIndex.build(d, "doc_id", "text", dir, nBuckets = 4),
      (d, dir, tag) => TextIndex.append(d, "doc_id", "text", dir, tag),
      dir => TextIndex.compact(spark, dir),
      Seq("doc_id", "text"),
      dir => TextIndex.probe(spark, dir,
        textRows(Seq(3L)).select((col("doc_id") + 900L).as("doc_id"), col("text")),
        "doc_id", "text").count() > 0L)
    val vec = Family("vector", vecRows(1L to 8L), vecRows(Seq(3L)), vecRows(Seq(5L)),
      vecRows(Seq(40L)), "vec_id",
      (d, dir) => VectorIndex.build(d, dir, nlist = 2),
      (d, dir, tag) => VectorIndex.append(d, dir, tag = tag),
      dir => VectorIndex.compact(spark, dir),
      Seq("vec_id", "embedding"),
      dir => {
        val q = vecRows(Seq(3L))
        VectorIndex.topK(spark, dir, q.select(col("vec_id").as("q_id"),
            col("embedding").as("q_emb")), k = 20, nprobe = 2)
          .filter(col("vec_id") === 3L).count() > 0L ||
          VectorIndex.probeDups(spark, dir,
            q.select((col("vec_id") + 900L).as("vec_id"), col("embedding")), tau = 0.999)
            .filter(col("dup_of") === 3L).count() > 0L
      })
    val termExtra = Seq((40L, "fresh interleaved doc"))
    val queries = rows((1L, "spark join"), (2L, "data lake guide"), (3L, "spark tuning"))
      .toDF("query_id", "q")
    // the check's topK runs with the stats tripwire armed: the serve
    // itself validates meta (N, sum_dl) against the stored rows
    val checked = spark.newSession()
    checked.conf.set("graft.term.checkStats", "true")
    def topK(dir: String, s: SparkSession = spark) =
      TermIndex.topK(s, dir, queries).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val termFresh = tmpIdx("rm_term_fresh")
    lazy val want = topK(termFresh)
    val term = Family("term", rows(termCorpus: _*), rows(termCorpus(2)),
      rows(termCorpus(0)), rows(termExtra: _*), "doc_id",
      (d, dir) => TermIndex.build(d, "doc_id", "text", dir, nBuckets = 4),
      (d, dir, tag) => TermIndex.append(d, "doc_id", "text", dir, tag),
      dir => TermIndex.compact(spark, dir),
      Seq("doc_id", "text"),
      dir => topK(dir).exists(_._3 == 3L),
      check = Some(dir => {
        val got = topK(dir, checked)
        assert(!got.exists(_._3 == 3L), s"victim still retrieved: $got")
        assert(got === want, "replayed index != fresh survivor build")
        assert(termMetaStats(spark, dir) === termStoredStats(spark, dir), "stats drifted")
        if (LogicalDelete.pendingBatches(conf, dir).nonEmpty) {
          TermIndex.compact(spark, dir)
          assert(LogicalDelete.pendingBatches(conf, dir).isEmpty, "tombstones left")
        }
      }))
    // the bridge fixture: A(10)-B(20)-C(30) chain, B the victim
    val (a, b, c) = ((10L, span(0, 50)), (20L, span(5, 55)), (30L, span(10, 60)))
    def assignMap(dir: String) = IndexFixtures.assignMap(spark, dir)
    val cluster = Family("cluster", rows(a, b, c), rows(b), rows(c),
      rows(50L -> span(300, 360)), "doc_id",
      (d, dir) => ClusterIndex.build(d, "doc_id", "text", dir, nBuckets = 4),
      (d, dir, tag) => { ClusterIndex.append(d, "doc_id", "text", dir, tag); () },
      dir => ClusterIndex.compact(spark, dir),
      Seq("doc_id", "text"),
      dir => ClusterIndex.knownIds(spark, dir, rows(b).select("doc_id"), "doc_id")
        .count() > 0L,
      check = Some(dir => {
        assert(!assignMap(dir).contains(20L), "victim still assigned")
        ClusterIndex.compact(spark, dir)
        assert(assignMap(dir) === Map(10L -> 10L, 30L -> 30L, 50L -> 50L),
          s"reclaim after replay must split the component: ${assignMap(dir)}")
      }))
    // heaviest families first, so the pool's threads drain together
    val all = Seq(
      CrashVerb(cluster, "cluster.logical",
        Seq("state", "tombstone", "meta", "record", "overlay"),
        (v, dir, tag) => ClusterIndex.logicalRemove(v, "doc_id", "text", dir, tag)),
      CrashVerb(term, "term.remove",
        Seq("state", "barrier", "postings", "dl", "meta", "record"),
        (v, dir, tag) => TermIndex.remove(v, "doc_id", "text", dir, tag),
        tables = Seq("postings", "dl"),
        // once the victim barrier is up, a mid-crash re-ingest of the
        // victim id refuses — the id-keyed replay deletes would otherwise
        // erase the NEW rows while their fingerprint stays merged
        crashed = (step, dir) => if (step != "term.remove.state") {
          val ex = intercept[IllegalArgumentException] {
            TermIndex.append(rows(3L -> "sneaky mid-crash re-ingest"),
              "doc_id", "text", dir, tag = "sneak")
          }
          assert(ex.getMessage.contains("logically deleted"), ex.getMessage)
        }),
      CrashVerb(term, "term.logical", Seq("state", "tombstone", "meta", "record"),
        (v, dir, tag) => TermIndex.logicalRemove(v, "doc_id", "text", dir, tag)),
      CrashVerb(text, "text", Seq("state", "bands", "toks", "meta", "record"),
        (v, dir, tag) => TextIndex.remove(v, "doc_id", "text", dir, tag),
        tables = Seq("bands", "toks")),
      CrashVerb(text, "text.logical", Seq("state", "tombstone", "meta", "record"),
        (v, dir, tag) => TextIndex.logicalRemove(v, "doc_id", "text", dir, tag)),
      CrashVerb(vec, "vector", Seq("state", "cells", "meta", "record"),
        (v, dir, tag) => VectorIndex.remove(v, dir, tag = tag),
        tables = Seq("cells")),
      CrashVerb(vec, "vector.logical", Seq("state", "tombstone", "meta", "record"),
        (v, dir, tag) => VectorIndex.logicalRemove(v, dir, tag = tag)))
    assert(all.map(_.prefix) == RemovalCrashMatrix.verbs)
    val verbs = all.filter(v => prefixes.contains(v.prefix))
    val families = verbs.map(_.family).distinct
    val templates = families.map(f => f.name -> tmpIdx(s"rm_${f.name}_base")).toMap
    val freshTerm = if (families.exists(_.name == "term")) Seq(None) else Nil
    concurrently(families.map(Some(_)) ++ freshTerm) {
      case Some(f) => f.build(f.base, templates(f.name))
      case None => TermIndex.build(rows(termCorpus.filterNot(_._1 == 3L) ++ termExtra: _*),
        "doc_id", "text", termFresh)
    }
    // the armed step is thread-scoped, so every step crashes and
    // converges on its own copy, concurrently
    val steps = for (v <- verbs; st <- v.steps) yield (v, s"${v.prefix}.$st")
    IndexMaintenance.parallel(steps.map { case (v, step) => () =>
      val f = v.family
      val dir = copyOf(templates(f.name), step.replace('.', '_'))
      try {
        intercept[FaultInjection.InjectedCrash] {
          FaultInjection.armed(step)(v.run(f.victims, dir, "t1"))
        }
        val ex = intercept[IllegalArgumentException](v.run(f.other, dir, "t2"))
        assert(ex.getMessage.contains("never completed"), ex.getMessage)
        val exC = intercept[IllegalArgumentException](f.compact(dir))
        assert(exC.getMessage.contains("never completed"), exC.getMessage)
        if (metaFp(dir).contains(f.survivorFp))
          assert(!f.served(dir), "meta leaves the victims out, yet one is served")
        v.crashed(step, dir)
        f.append(f.extra, dir, "ap1")
        v.run(f.victims, dir, "t1")
        v.tables.foreach { t =>
          assert(spark.read.parquet(s"${root(dir)}/$t")
            .filter(col(f.idCol).isin(f.victimIds: _*)).count() == 0L,
            s"victim rows left in $t")
        }
        assert(metaFp(dir).contains(f.convergedFp),
          "meta drifted from survivors + the interleaved append")
        assert(Fingerprint.pendingRemovals(conf, dir).isEmpty, "removal state pends")
        val report = IndexCheck.check(spark, dir, record = false)
        assert(report.ok, report.checks.filterNot(_.ok).mkString("; "))
        f.converged(dir)
      } catch { case e: org.scalatest.exceptions.TestFailedException =>
        fail(s"[$step] ${e.getMessage}") }
    }, threads = 8)
  }
}

object RemovalCrashMatrix {
  /** The crash-step prefixes of the seven removal verbs, in run order. */
  val verbs: Seq[String] = Seq("cluster.logical", "term.remove", "term.logical",
    "text", "text.logical", "vector", "vector.logical")
}
