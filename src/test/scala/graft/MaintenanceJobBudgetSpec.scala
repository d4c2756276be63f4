package graft

import org.apache.spark.sql.functions._

import graft.operators.{Rtbf, RtbfTargets, TargetedDelete, TermIndex, TextIndex, VectorIndex}

/** Spark-job budget of the maintenance verbs on a small fixture: an
  * `Rtbf.purge` of three victims over the text, term and vector indexes
  * plus the document and embedding lakes, physical and logical, and one
  * `TargetedDelete.delete` leg (its key capture, schema read, pass 1,
  * checkpoint and write). Each must stay at or under its recorded
  * budget. A budget may only be lowered; a raise needs a CHANGES.md
  * line. */
class MaintenanceJobBudgetSpec extends SparkSpec {
  import spark.implicits._
  import IndexFixtures.{jobsOf, span, tmpIdx}

  private val budgets = Map("purge" -> 55, "logical_purge" -> 44, "delete_leg" -> 5)

  private def within(name: String, jobs: Seq[String]): Unit =
    assert(jobs.size <= budgets(name),
      s"$name: ${jobs.size} jobs over the budget of ${budgets(name)}:\n" + jobs.mkString("\n"))

  test("a purge, physical and logical, and one delete leg stay within their job budgets") {
    val base = java.nio.file.Files.createTempDirectory("budget_rtbf").toString
    val corpus = (1L to 24L).map(i => (i, span(i.toInt * 10, i.toInt * 10 + 30),
        Array(math.sin(i.toDouble).toFloat, math.cos(i.toDouble).toFloat, (i % 3).toFloat)))
      .toDF("doc_id", "text", "embedding")
    val t = RtbfTargets(
      lakeDir = s"$base/lake", lakePartitionCols = Seq("src"),
      textIndex = Some(s"$base/text"), termIndex = Some(s"$base/term"),
      vectorIndex = Some(s"$base/vector"),
      vecLakeDir = Some(s"$base/veclake"), vecLakePartitionCols = Seq("label"))
    corpus.select(col("doc_id"), col("text"), (col("doc_id") % 4).cast("string").as("src"))
      .write.partitionBy("src").parquet(t.lakeDir)
    corpus.select(col("doc_id").as("vec_id"), col("embedding"),
        (col("doc_id") % 4).cast("int").as("label"))
      .write.partitionBy("label").parquet(t.vecLakeDir.get)
    val docs = spark.read.parquet(t.lakeDir).select(col("doc_id"), col("text"))
    TextIndex.build(docs, "doc_id", "text", t.textIndex.get, nBuckets = 8)
    TermIndex.build(docs, "doc_id", "text", t.termIndex.get, nBuckets = 8)
    VectorIndex.build(spark.read.parquet(t.vecLakeDir.get).select(col("vec_id"), col("embedding")),
      t.vectorIndex.get, nlist = 2)

    def purge(ids: Seq[Long], tag: String, logical: Boolean): Seq[String] = {
      val vic = spark.read.parquet(t.lakeDir).filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id"), col("text")).localCheckpoint()
      val vecVic = spark.read.parquet(t.vecLakeDir.get).filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      jobsOf(spark)(assert(Rtbf.purge(vic, Some(vecVic), t, tag, logical).complete))
    }
    within("purge", purge(Seq(3L, 10L, 17L), "p0", logical = false))
    within("logical_purge", purge(Seq(5L, 12L, 22L), "p1", logical = true))

    val lake = tmpIdx("budget_leg")
    corpus.select(col("doc_id"), (col("doc_id") % 4).as("day")).write.partitionBy("day").parquet(lake)
    val leg = jobsOf(spark)(assert(TargetedDelete.delete(spark, lake, Seq("day"), "doc_id",
      Seq(1L, 2L).toDF("doc_id")) == 2L))
    within("delete_leg", leg)
    assert(spark.read.parquet(lake).count() == 22L)
  }
}
