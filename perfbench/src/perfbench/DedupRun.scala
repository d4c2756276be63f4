package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Dedup}

/** `corpus_dedup`: whole-corpus passes of exact dedup, MinHash near-dup
  * pairs, connected components, keep-one-per-component and a parquet
  * write, repeated while another pass fits in the measurement time (at
  * least once).
  * An untimed pass over the first documents (the over-cap cluster and
  * some planted ones) runs first and takes the first-call costs (class
  * loading, code generation); the first timed pass is still slower than
  * a second full pass on the same JVM. */
object DedupRun {

  /** Documents in the warm-up pass. */
  private val WarmDocs = 400

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val maxBucket = ctx.int("max_bucket")
    val threshold = ctx.dbl("threshold")

    // set-up: load the generated corpus into the parquet table every pass
    // reads, three times
    val setup = (0 until 3).map { r =>
      ctx.span("setup.corpus_table")(Main.timed {
        spark.read.schema("doc_id LONG, text STRING")
          .json(ctx.input.resolve("corpus.json").toString)
          .write.parquet(ctx.dir(s"corpus$r"))
      }._1)
    }
    val corpus = spark.read.parquet(ctx.dir("corpus0"))

    // one pass; its spans are named `<label>.pass` and `<label>.<step>`
    def pass(label: String, corpus: DataFrame, out: String)
        : (Map[String, Double], DataFrame, DataFrame, DataFrame) = {
      var stepWalls = Map.empty[String, Double]
      def step[T](name: String)(f: => T): T = {
        val (s, r) = Main.timed(ctx.span(s"$label.$name")(f))
        stepWalls += name -> s
        r
      }
      ctx.span(s"$label.pass") {
        val exact = step("exact")(Dedup.exactKeepFirst(corpus, "doc_id", "text").localCheckpoint())
        val kept = corpus.join(exact.select(col("keep_id").as("doc_id")), "doc_id")
        val pairs = step("minhash")(Dedup.minhashNearDups(kept, "doc_id", "text",
          threshold = threshold, maxBucket = maxBucket).localCheckpoint())
        val comps = step("components")(
          ConnectedComponents.components(pairs, "id1", "id2").localCheckpoint())
        step("write")(kept.join(comps, kept("doc_id") === comps("id"), "left")
          .filter(col("component").isNull || col("component") === col("doc_id"))
          .select(col("doc_id"), col("text"))
          .write.parquet(out))
        (stepWalls, exact, pairs, comps)
      }
    }

    pass("warm", corpus.filter(col("doc_id") <= WarmDocs), ctx.dir("warm"))
    val t0 = System.nanoTime()
    val walls = Vector.newBuilder[Map[String, Double]]
    var last: (DataFrame, DataFrame, DataFrame) = null
    var n = 0
    // passes repeat while another one fits in the measurement time
    while (n < 1 || (System.nanoTime() - t0) / 1e9 * (n + 1) / n <= ctx.seconds) {
      val (w, exact, pairs, comps) = pass("dedup", corpus, ctx.dir(s"out$n"))
      walls += w
      last = (exact, pairs, comps)
      n += 1
    }
    val (exact, pairs, comps) = last

    // output side of the last pass, outside every timed window
    val out = ctx.span("check") {
      val nKept = exact.count()
      Map("docs" -> corpus.count(),
        "exact_kept" -> nKept,
        "pairs" -> pairs.select(col("id1"), col("id2")).collect()
          .map(r => Seq(r.getLong(0), r.getLong(1))).toSeq,
        "components" -> comps.select(col("component")).distinct().count(),
        "out_rows" -> spark.read.parquet(ctx.dir(s"out${n - 1}")).count(),
        "out_expected" -> (nKept - comps.filter(col("component") =!= col("id")).count()))
    }
    out ++ Map("setup_s" -> setup, "passes" -> walls.result())
  }
}
