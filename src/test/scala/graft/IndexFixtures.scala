package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{ClusterIndex, IndexMaintenance, LogicalDelete}

/** Fixtures the index-family specs share: temporary index dirs, a
  * filesystem copy of a built index, small corpora, and the reads their
  * checks compare. */
object IndexFixtures {

  def tmpIdx(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  /** A copy of the index at `template`, so one build serves many cases. */
  def copyOf(template: String, prefix: String): String = {
    val src = java.nio.file.Paths.get(template)
    val dst = java.nio.file.Paths.get(tmpIdx(prefix))
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach(p => java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))))
    finally walk.close()
    dst.toString
  }

  /** Tokens [a, b) — Jaccard(span(0,50), span(5,55)) = 45/55 ≈ 0.818. */
  def span(a: Int, b: Int): String = (a until b).map(i => s"w$i").mkString(" ")

  def docs(s: SparkSession, rows: (Long, String)*): DataFrame = {
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Documents whose token sets share nothing. */
  def textRows(s: SparkSession, ids: Seq[Long]): DataFrame =
    docs(s, ids.map(id => id -> (0 until 12).map(i => s"w${id}_$i").mkString(" ")): _*)

  def vecRows(s: SparkSession, ids: Seq[Long]): DataFrame = {
    import s.implicits._
    ids.map { id =>
      (id, Seq(math.sin(id.toDouble).toFloat, math.cos(id.toDouble).toFloat,
        (id % 3).toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** A small BM25 corpus with repeated terms and uneven lengths. */
  val termCorpus: Seq[(Long, String)] = Seq(
    (1L, "spark streams join tables fast"),
    (2L, "duck pond data lake"),
    (3L, "spark spark spark tuning guide"),
    (4L, "join order optimizer statistics"),
    (5L, "tables of data in the lake"),
    (6L, "a very long document about nothing in particular with many words"),
    (7L, "fast join fast scan"),
    (8L, "pond guide"))

  def assignMap(s: SparkSession, dir: String): Map[Long, Long] =
    ClusterIndex.assignments(s, dir, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** A term index's meta `(n_rows, sum_dl)`. */
  def termMetaStats(s: SparkSession, dir: String): (Long, Long) = {
    val root = IndexMaintenance.liveRoot(s.sparkContext.hadoopConfiguration, dir)
    val m = s.read.parquet(s"$root/meta").head()
    (m.getAs[Long]("n_rows"), m.getAs[Long]("sum_dl"))
  }

  /** Survivor (tombstone-hidden) aggregate over the stored dl rows —
    * what meta's incremental (n_rows, sum_dl) must always equal. */
  def termStoredStats(s: SparkSession, dir: String): (Long, Long) = {
    val root = IndexMaintenance.liveRoot(s.sparkContext.hadoopConfiguration, dir)
    val r = LogicalDelete.hide(s.read.parquet(s"$root/dl"), "doc_id",
        LogicalDelete.ids(s, dir))
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def concurrently[A](xs: Seq[A])(f: A => Unit): Unit =
    IndexMaintenance.parallel(xs.map(x => () => f(x)))

  /** The descriptions of the Spark jobs `f` runs, in job order (the job
    * budget specs' counter). */
  def jobsOf(s: SparkSession)(f: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val sc = s.sparkContext
    val l = new WorkListener
    l.recordJobs = true
    sc.addSparkListener(l)
    try { f; org.apache.spark.ListenerDrain(sc) } finally sc.removeSparkListener(l)
    l.jobs.asScala.toSeq.sortBy(_._1).map(_._4)
  }
}
