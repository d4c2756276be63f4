package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{ClusterIndex, FaultInjection, Fingerprint, IndexMaintenance,
  LogicalDelete, TermIndex, TextIndex, VectorIndex}

/** The append envelope ([[IndexMaintenance.append]]) every index family
  * shares: its one meta commit must be exactly-once at each crash
  * boundary `<family>.append.{state,meta,record}`. Per step, the crashed
  * index must (1) refuse a DIFFERENT batch under the crashed tag before
  * writing anything, (2) accept an interleaved append under another tag,
  * and (3) replay the crashed batch so that `isFresh(corpus of record)`
  * holds. Once the merge is recorded (the commit point) the leftover
  * commit state is done: neither the removal guards nor IndexAdmin may
  * treat it as a crashed append. Each family's base index is built once;
  * every step works on a filesystem copy of it. */
class AppendEnvelopeSpec extends SparkSpec {
  import IndexFixtures._

  private def conf = spark.sparkContext.hadoopConfiguration

  /** One family under test: its three batches beside the base corpus
    * (`other` differs from `rest`, the batch crashed under tag c1), its
    * build/append/isFresh entry points over (dir, frame), and a
    * family-specific check of a converged index. */
  private case class Family(name: String, base: DataFrame, rest: DataFrame,
                            other: DataFrame, late: DataFrame,
                            build: (DataFrame, String) => Unit,
                            append: (DataFrame, String, String) => Unit,
                            isFresh: (String, DataFrame) => Boolean,
                            check: String => Unit = _ => ())

  private def docs(rows: (Long, String)*): DataFrame = IndexFixtures.docs(spark, rows: _*)
  private def textRows(ids: Seq[Long]): DataFrame = IndexFixtures.textRows(spark, ids)
  private def vecRows(ids: Seq[Long]): DataFrame = IndexFixtures.vecRows(spark, ids)

  test("append crash matrix: every family's meta commit is exactly-once") {
    // term: a crash between the meta write and recordMerge used to
    // double-merge (n_rows, sum_dl) on replay — silent mis-scoring, since
    // topK serves stats from meta; the replay must land survivor-exact
    // stats and rankings equal to a fresh build over the corpus of record
    val (termSeed, termRest) = termCorpus.splitAt(5)
    val termLate = Seq((40L, "fresh interleaved doc"))
    val queries = docs((1L, "spark join"), (2L, "data lake guide")).toDF("query_id", "q")
    def topK(dir: String) = TermIndex.topK(spark, dir, queries).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val fresh = tmpIdx("term_acf")
    lazy val want = topK(fresh)
    val families = Seq(
      Family("text", textRows(1L to 6L), textRows(Seq(20L, 21L)),
        textRows(Seq(77L)), textRows(Seq(40L)),
        (d, dir) => TextIndex.build(d, "doc_id", "text", dir, nBuckets = 4),
        (d, dir, tag) => TextIndex.append(d, "doc_id", "text", dir, tag),
        (dir, d) => TextIndex.isFresh(spark, dir, d, "doc_id", "text")),
      Family("vector", vecRows(1L to 8L), vecRows(Seq(20L, 21L)),
        vecRows(Seq(77L)), vecRows(Seq(40L)),
        (d, dir) => VectorIndex.build(d, dir, nlist = 2),
        (d, dir, tag) => VectorIndex.append(d, dir, tag = tag),
        (dir, d) => VectorIndex.isFresh(spark, dir, d)),
      Family("cluster", textRows(1L to 6L), textRows(Seq(20L, 21L)),
        textRows(Seq(77L)), textRows(Seq(40L)),
        (d, dir) => ClusterIndex.build(d, "doc_id", "text", dir, nBuckets = 4),
        (d, dir, tag) => { ClusterIndex.append(d, "doc_id", "text", dir, tag); () },
        (dir, d) => ClusterIndex.isFresh(spark, dir, d, "doc_id", "text")),
      Family("term", docs(termSeed: _*), docs(termRest: _*),
        docs(77L -> "other batch"), docs(termLate: _*),
        (d, dir) => TermIndex.build(d, "doc_id", "text", dir, nBuckets = 4),
        (d, dir, tag) => TermIndex.append(d, "doc_id", "text", dir, tag),
        (dir, d) => TermIndex.isFresh(spark, dir, d, "doc_id", "text"),
        check = dir => {
          assert(termMetaStats(spark, dir) === termStoredStats(spark, dir), "stats drifted")
          assert(topK(dir) === want, "replayed index != fresh union build")
        }))
    spark.conf.set("graft.term.checkStats", "true")
    try {
      // base indexes (and term's fresh union build), concurrently
      val templates = families.map(f => f.name -> tmpIdx(s"${f.name}_base")).toMap
      concurrently(families.map(Some(_)) :+ None) {
        case Some(f) => f.build(f.base, templates(f.name))
        case None => TermIndex.build(docs(termCorpus ++ termLate: _*),
          "doc_id", "text", fresh)
      }
      // crashes one at a time: FaultInjection arms one global step
      val crashed = for (f <- families; st <- Seq("state", "meta", "record")) yield {
        val step = s"${f.name}.append.$st"
        val dir = copyOf(templates(f.name), s"${f.name}_$st")
        intercept[FaultInjection.InjectedCrash] {
          FaultInjection.armed(step)(f.append(f.rest, dir, "c1"))
        }
        (f, step, dir)
      }
      // each step's checks on its own copy, concurrently
      concurrently(crashed) { case (f, step, dir) =>
        val ex = intercept[IllegalArgumentException](f.append(f.other, dir, "c1"))
        assert(ex.getMessage.contains("DIFFERENT") ||
          ex.getMessage.contains("already used"), s"[$step] ${ex.getMessage}")
        if (step.endsWith(".record")) {
          // the merge is recorded: the commit point passed, so the
          // leftover state must not block removals or read as crashed
          assert(Fingerprint.pendingRemovals(conf, dir).isEmpty, s"[$step]")
          val text = IndexAdmin.render(IndexAdmin.report(conf, dir))
          assert(!text.contains("CRASHED"), s"[$step]\n$text")
        }
        f.append(f.late, dir, "c2")
        f.append(f.rest, dir, "c1")
        assert(f.isFresh(dir, f.base.unionByName(f.rest).unionByName(f.late)),
          s"[$step] meta drifted from the corpus of record across the crash")
        assert(Fingerprint.pendingRemovals(conf, dir).isEmpty,
          s"[$step] the replay must clear its commit state")
        try f.check(dir)
        catch { case e: org.scalatest.exceptions.TestFailedException =>
          fail(s"[$step] ${e.getMessage}") }
      }
    } finally spark.conf.unset("graft.term.checkStats")
  }
}
