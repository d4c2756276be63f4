package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{IndexMaintenance, TermIndex, VectorIndex}

/** The snapshot reader (`IndexSnapshot`) serves meta, centroids and
  * table schemas from memory, so every committing verb must retire the
  * entry it leaves behind. With the entry warm before each verb, the
  * next probe in the same JVM equals a fresh build of the same corpus:
  * after an append (term N and avgdl move, so scores must move
  * value-exactly), a logical and a physical remove, a compact (new
  * root), a rebuild in place under a renamed id column (new schema,
  * same root), and a vector retrain (new centroids). */
class SnapshotFreshnessSpec extends SparkSpec {
  import spark.implicits._
  import IndexFixtures.{copyOf, docs, termCorpus, tmpIdx, vecRows}

  private val queries = Seq((1L, "spark join"), (2L, "data lake guide"), (3L, "fast pond"))

  private def topK(dir: String, idCol: String = "doc_id"): Set[(Long, Int, Long, Double)] = {
    val out = TermIndex.topK(spark, dir, queries.toDF("query_id", "q"), k = 4)
    assert(out.columns.contains(idCol), s"topK columns ${out.columns.mkString(", ")}")
    out.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
  }

  private def fresh(rows: Seq[(Long, String)], idCol: String = "doc_id")
      : Set[(Long, Int, Long, Double)] = {
    val dir = tmpIdx("snapfresh_ref")
    TermIndex.build(docs(spark, rows: _*).withColumnRenamed("doc_id", idCol),
      idCol, "text", dir, nBuckets = 4)
    topK(dir, idCol)
  }

  test("every committing verb retires the warm snapshot entry") {
    val dir = tmpIdx("snapfresh_term")
    var corpus = termCorpus
    TermIndex.build(docs(spark, corpus: _*), "doc_id", "text", dir, nBuckets = 4)
    def step(what: String, idCol: String = "doc_id")(verb: => Unit): Unit = {
      val before = topK(dir) // warms the entry
      verb
      val now = topK(dir, idCol)
      assert(now == fresh(corpus, idCol), s"after $what: probe != fresh build")
      if (what == "append") assert(now != before, "append must move the scores")
    }
    def victims(ids: Long*): DataFrame = docs(spark, corpus.filter(r => ids.contains(r._1)): _*)

    val delta = Seq((9L, "spark join spark join"), (10L, "lake lake pond"))
    step("append") {
      TermIndex.append(docs(spark, delta: _*), "doc_id", "text", dir, tag = "a1")
      corpus = corpus ++ delta
    }
    step("logicalRemove") {
      TermIndex.logicalRemove(victims(3L), "doc_id", "text", dir, tag = "l1")
      corpus = corpus.filterNot(_._1 == 3L)
    }
    val rootBefore = IndexMaintenance.liveRoot(spark.sparkContext.hadoopConfiguration, dir)
    step("compact")(TermIndex.compact(spark, dir))
    assert(IndexMaintenance.liveRoot(spark.sparkContext.hadoopConfiguration, dir) != rootBefore)
    step("remove") {
      TermIndex.remove(victims(7L, 9L), "doc_id", "text", dir, tag = "r1")
      corpus = corpus.filterNot(r => r._1 == 7L || r._1 == 9L)
    }
    step("rebuild under a renamed id column", idCol = "did") {
      TermIndex.build(docs(spark, corpus: _*).withColumnRenamed("doc_id", "did"),
        "did", "text", dir, nBuckets = 4)
    }
  }

  test("retrain serves the new centroids") {
    val dir = tmpIdx("snapfresh_vec")
    val corpus = vecRows(spark, 1L to 60L)
    VectorIndex.build(corpus, dir, nlist = 2)
    def topK(d: String): Set[(Long, Int, Long, Double)] =
      VectorIndex.topK(spark, d, vecRows(spark, Seq(5L, 17L, 33L)).toDF("q_id", "q_emb"),
        k = 5, nprobe = 1)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    topK(dir)
    val before = VectorIndex.loadCentroids(spark, dir)
    VectorIndex.retrain(spark, dir, nlist = 5)
    val after = VectorIndex.loadCentroids(spark, dir)
    assert(after.size == 5 && after != before, "retrain must serve its new centroids")
    // a copy is a new index dir: its first probe reads everything cold
    assert(topK(dir) == topK(copyOf(dir, "snapfresh_vec_copy")))
  }
}
