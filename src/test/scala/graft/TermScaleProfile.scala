package graft

/** BM25 slope evidence (SCALING.md): times the persisted-index serve
  * path (`TermIndex.topK`) against the closed-form recompute
  * (`TextPipeline.bm25TopK`) on the same fixture dir, plus the
  * one-time build. Usage:
  *   sbt "Test/runMain graft.TermScaleProfile <fixtureDir> [runs]"
  * The index should be near-flat in corpus size (query terms' buckets
  * only); the recompute's tf pass is linear — the crossover is the
  * whole point of the fourth family. */
object TermScaleProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 3
    val nBuckets = if (args.length > 2) args(2).toInt else 64
    val spark = GraftSession(Some(32), logLevel = "ERROR")
    import spark.implicits._

    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_termprof/" +
      Tables.fixtureKey(dir)
    // fresh build every invocation: the build slope is part of the story
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val queries = Seq((1L, "spark table join"), (2L, "data stream window agg"),
      (3L, "dup merge"), (4L, "customer query fast")).toDF("query_id", "q")
    val (_, phases) = Phases.record {
      Phases.time("build") {
        graft.operators.TermIndex.build(docs, "doc_id", "text", idx, nBuckets)
      }
      (1 to runs).foreach(i => Phases.time(s"serve_$i")(
        graft.operators.TermIndex.topK(spark, idx, queries, k = 10).collect()))
      (1 to runs).foreach(i => Phases.time(s"recompute_$i")(
        graft.queries.TextPipeline.bm25TopK(spark, dir).collect()))
    }
    val buildS = phases("build").seconds
    val serve = (1 to runs).map(i => phases(s"serve_$i").seconds)
    val recompute = (1 to runs).map(i => phases(s"recompute_$i").seconds)
    println(f"[termprof] dir=$dir docs=$nDocs nBuckets=$nBuckets build=$buildS%.2fs " +
      f"serve_min=${serve.min}%.2fs recompute_min=${recompute.min}%.2fs " +
      s"serve=${serve.map(t => f"$t%.2f").mkString(",")} " +
      s"recompute=${recompute.map(t => f"$t%.2f").mkString(",")}")
    // archive beside the bench artifact (VERDICT r15 item 6): one JSON
    // line per invocation so the SCALING.md serve-vs-recompute
    // crossover stays a measured, re-derivable series — not prose
    def arr(xs: Seq[Double]) = xs.map(t => f"$t%.3f").mkString("[", ",", "]")
    val line =
      s"""{"dir":"$dir","docs":$nDocs,"n_buckets":$nBuckets,""" +
        f""""build_s":$buildS%.3f,"serve_min_s":${serve.min}%.3f,""" +
        f""""recompute_min_s":${recompute.min}%.3f,""" +
        s""""serve_runs":${arr(serve)},"recompute_runs":${arr(recompute)}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("term_profile.jsonl"), line + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
