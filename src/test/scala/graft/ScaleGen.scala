package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-slope fixture generator (VERDICT r8 item 8): builds an
  * sfN-equivalent of sf0.1 by unioning `copies` re-keyed replicas —
  * `runMain graft.ScaleGen <outDir> [copies]` (default 5 → "sf0.5").
  *
  * Replicas must not interact, or the measurement lies: identical text
  * replicas would make every doc a cross-copy near-dup (pair counts ×k²,
  * clusters spanning copies — super-linear RESULTS masquerading as
  * super-linear RUNTIME). Each copy therefore gets a disjoint token
  * namespace (tokens prefixed with the copy tag), disjoint ids (stride =
  * max(id)+1), and slightly perturbed embeddings — the workload scales
  * exactly ×k in rows AND in result structure, so sec/SF is the honest
  * slope.
  */
object ScaleGen {

  /** Deep-CHAIN near-dup fixture (VERDICT r11 item 7): doc i shares a
    * sliding token window with doc i+1 only — consecutive Jaccard is
    * (tokens-step)/(tokens+step) (0.818 at the defaults, above the 0.8
    * pipeline threshold) while skip-one Jaccard is
    * (tokens-2*step)/(tokens+2*step) (0.667, below it). The similarity
    * graph is therefore a single PATH of diameter n-1 — the shape the
    * replica fixtures never produce (their clusters are near-cliques
    * that contract in one star round), so this is what exercises the
    * O(log n) multi-round bound of ConnectedComponents. */
  def chainDocs(spark: SparkSession, n: Int, tokens: Int = 50,
                step: Int = 5): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong,
        (i * step until i * step + tokens).map(t => s"chaintok$t").mkString(" "))
    }.toDF("doc_id", "text")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val copies = if (args.length > 1) args(1).toInt else 5
    val spark = GraftSession(Some(32), logLevel = "ERROR")
    val src = "/root/testdata/sf0.1"

    def replicate(name: String, rekey: (DataFrame, Int, Long) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val idCol = base.columns.head // doc_id / vec_id / event_id lead each table
      val stride = base.agg(max(col(idCol))).head().getLong(0) + 1L
      (0 until copies).map(c => rekey(base, c, stride))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }

    replicate("documents", (df, c, stride) => df
      .withColumn("doc_id", col("doc_id") + lit(c * stride))
      // disjoint token namespace per copy: replicas never near-dup each other
      .withColumn("text",
        if (c == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          t => concat(lit(s"c${c}_"), t)), " ")))

    replicate("embeddings", (df, c, stride) => df
      .withColumn("vec_id", col("vec_id") + lit(c * stride))
      // cyclic dimension ROTATION by c positions: preserves every norm
      // and all within-copy pairwise geometry exactly (dedup/ANN
      // structure scales exactly xk), while cross-copy cosine decays to
      // the background level — an additive constant would leave
      // cos(v, v + eps) ~ 1 and make every replica a semantic near-dup
      // of its source, faking super-linear vector slopes
      .withColumn("embedding",
        if (c == 0) col("embedding")
        else transform(sequence(lit(0), size(col("embedding")) - 1),
          i => element_at(col("embedding"),
            pmod(i + lit(c), size(col("embedding"))) + 1))))

    replicate("events", (df, c, stride) => df
      .withColumn("event_id", col("event_id") + lit(c * stride))
      .withColumn("user_id", col("user_id") + lit(c * 1000000L)))

    println(s"[scalegen] wrote $copies x sf0.1 to $outDir")
    spark.stop()
  }
}
