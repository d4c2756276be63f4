package graft

import org.apache.spark.sql.functions._
import graft.functions.{MinHashMerge, MinHashSig}
import graft.operators.Dedup

/** The typed sketch aggregator must satisfy MinHash's union property:
  * element-wise min over per-doc signatures == the signature of the
  * union of the docs' token sets. That is the whole point of the sketch
  * (group-level signatures without materializing token unions). */
class MinHashAggSpec extends SparkSpec {

  test("min-merged group signature == signature of the token-set union") {
    val n = 64
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), Dedup.hashedTokenSet(col("text")).as("toks"))
      .withColumn("sig", MinHashSig(col("toks"), n, seed = 7L))

    val merge = udaf(new MinHashMerge(n))
    val merged = docs.groupBy(col("lang")).agg(merge(col("sig")).as("group_sig"))

    val unions = docs.groupBy(col("lang"))
      .agg(array_sort(array_distinct(flatten(collect_list(col("toks"))))).as("u"))
      .select(col("lang"), MinHashSig(col("u"), n, seed = 7L).as("union_sig"))

    val bad = merged.join(unions, "lang")
      .filter(col("group_sig") =!= col("union_sig"))
    assert(merged.count() > 0)
    assert(bad.count() === 0, "sketch union property violated")
  }

  test("sketch source-overlap estimate tracks the exact Jaccard matrix") {
    // The one-pass MinHash estimate (doc_source_overlap_minhash) must
    // agree with the exact gram-join matrix (doc_source_overlap) within
    // the 128-hash sampling band: std ≈ sqrt(J(1−J)/128) ≤ 0.045, so
    // 0.15 is a > 3σ gate at any J. Deterministic: fixed hash family.
    val exact = graft.queries.TextPipeline.sourceOverlap(spark, sf0001)
      .select(col("src_a"), col("src_b"), col("jaccard"))
    val est = graft.queries.TextPipeline.sourceOverlapMinhash(spark, sf0001)
    val joined = exact.join(est, Seq("src_a", "src_b")).collect()
    assert(joined.length > 0, "no source pairs to compare")
    val maxErr = joined.map(r =>
      math.abs(r.getAs[Double]("jaccard") - r.getAs[Double]("jaccard_est"))).max
    assert(maxErr <= 0.15, s"sketch estimate off by $maxErr")
  }
}
