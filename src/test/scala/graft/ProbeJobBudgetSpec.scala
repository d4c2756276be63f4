package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain

import graft.operators.{TermIndex, TextIndex, VectorIndex}

/** Spark-job budget of one warm probe per serving family: the jobs of
  * `TermIndex.topK`, `VectorIndex.topK` and `TextIndex.probe`, result
  * collected, must stay at or under a recorded budget, and a warm probe
  * runs no schema-inference job and no meta or centroid read (the
  * snapshot reader, `IndexSnapshot`, serves those once per snapshot). A
  * budget may only be lowered; a raise needs a CHANGES.md line. */
class ProbeJobBudgetSpec extends SparkSpec {
  import spark.implicits._
  import IndexFixtures.{docs, span, termCorpus, tmpIdx, vecRows}

  private val budgets = Map("term" -> 9, "vector" -> 6, "text" -> 8)

  /** A meta, centroid or schema read: every job started from the
    * snapshot reader, and any schema inference (`parquet at ...`). */
  private def snapshotRead(job: String): Boolean =
    job.contains("IndexSnapshot.scala") || job.startsWith("parquet at")

  /** The descriptions of the jobs `f` runs, in job order. */
  private def jobsOf(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val l = new WorkListener
    l.recordJobs = true
    sc.addSparkListener(l)
    try { f; ListenerDrain(sc) } finally sc.removeSparkListener(l)
    l.jobs.asScala.toSeq.sortBy(_._1).map(_._4)
  }

  test("a warm probe stays within its job budget and reads no meta, centroids or schema") {
    val term = tmpIdx("budget_term")
    TermIndex.build(docs(spark, termCorpus: _*), "doc_id", "text", term, nBuckets = 8)
    val vector = tmpIdx("budget_vec")
    VectorIndex.build(vecRows(spark, 1L to 40L), vector, nlist = 4)
    val text = tmpIdx("budget_text")
    TextIndex.build(docs(spark, (1L to 12L).map(i => i -> span(i.toInt * 3, i.toInt * 3 + 50)): _*),
      "doc_id", "text", text, nBuckets = 8)
    val probes = Seq[(String, () => Array[_])](
      "term" -> (() => TermIndex.topK(spark, term,
        Seq((100L, "spark join lake")).toDF("query_id", "q"), k = 3).collect()),
      "vector" -> (() => VectorIndex.topK(spark, vector,
        vecRows(spark, Seq(7L)).toDF("q_id", "q_emb"), k = 3, nprobe = 2).collect()),
      "text" -> (() => TextIndex.probe(spark, text,
        docs(spark, 100L -> span(6, 56)), "doc_id", "text").collect()))
    probes.foreach { case (family, probe) =>
      var hits = 0
      val cold = jobsOf { hits = probe().length }
      assert(hits > 0, s"$family: the fixture probe must hit")
      // positive control: the cold probe fills the snapshot entry
      assert(cold.exists(snapshotRead), s"$family: no snapshot read seen cold:\n" +
        cold.mkString("\n"))
      val warm = jobsOf(probe())
      assert(!warm.exists(snapshotRead),
        s"$family: a warm probe re-read snapshot state:\n${warm.mkString("\n")}")
      assert(warm.size <= budgets(family),
        s"$family: ${warm.size} jobs over the budget of ${budgets(family)}:\n" +
          warm.mkString("\n"))
    }
  }
}
