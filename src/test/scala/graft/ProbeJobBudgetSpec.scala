package graft

import graft.operators.{LogicalDelete, TermIndex, TextIndex, VectorIndex}

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
  /** The same probes while one logical deletion pends: the tombstone
    * batch is read under the schema its write recorded (no inference). */
  private val tombBudgets = Map("term" -> 13, "vector" -> 8, "text" -> 10)

  /** A meta, centroid or schema read: every job started from the
    * snapshot reader, and any schema inference (`parquet at ...`). */
  private def snapshotRead(job: String): Boolean =
    job.contains("IndexSnapshot.scala") || job.startsWith("parquet at")

  private def jobsOf(f: => Unit): Seq[String] = IndexFixtures.jobsOf(spark)(f)

  /** The three families built on small fixtures, and one probe of each
    * (result collected) that hits. */
  private def fixtures(tag: String): Seq[(String, String, () => Array[_])] = {
    val term = tmpIdx(s"${tag}_term")
    TermIndex.build(docs(spark, termCorpus: _*), "doc_id", "text", term, nBuckets = 8)
    val vector = tmpIdx(s"${tag}_vec")
    VectorIndex.build(vecRows(spark, 1L to 40L), vector, nlist = 4)
    val text = tmpIdx(s"${tag}_text")
    TextIndex.build(docs(spark, (1L to 12L).map(i => i -> span(i.toInt * 3, i.toInt * 3 + 50)): _*),
      "doc_id", "text", text, nBuckets = 8)
    Seq(
      ("term", term, () => TermIndex.topK(spark, term,
        Seq((100L, "spark join lake")).toDF("query_id", "q"), k = 3).collect()),
      ("vector", vector, () => VectorIndex.topK(spark, vector,
        vecRows(spark, Seq(7L)).toDF("q_id", "q_emb"), k = 3, nprobe = 2).collect()),
      ("text", text, () => TextIndex.probe(spark, text,
        docs(spark, 100L -> span(6, 56)), "doc_id", "text").collect()))
  }

  test("a warm probe stays within its job budget and reads no meta, centroids or schema") {
    fixtures("budget").foreach { case (family, _, probe) =>
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

  test("a warm probe with one pending tombstone batch stays within its budget, no schema job") {
    val warm = fixtures("budget_tomb").map { case (family, dir, probe) =>
      family match {
        case "term" => TermIndex.logicalRemove(docs(spark, termCorpus.take(1): _*),
          "doc_id", "text", dir, tag = "t1")
        case "vector" => VectorIndex.logicalRemove(vecRows(spark, Seq(40L)), dir, tag = "t1")
        case "text" => TextIndex.logicalRemove(docs(spark, 12L -> span(36, 86)),
          "doc_id", "text", dir, tag = "t1")
      }
      assert(LogicalDelete.pendingBatches(spark.sparkContext.hadoopConfiguration, dir)
        .nonEmpty, s"$family: fixture: one tombstone batch pends")
      probe()
      family -> jobsOf(probe())
    }
    val report = warm.map { case (f, js) => s"$f: ${js.size} jobs\n${js.mkString("\n")}" }
      .mkString("\n")
    warm.foreach { case (family, jobs) =>
      assert(!jobs.exists(snapshotRead), s"$family: a warm probe inferred a schema:\n$report")
      assert(jobs.size <= tombBudgets(family), s"$family over its budget:\n$report")
    }
  }
}
