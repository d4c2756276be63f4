package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Dedup

/** STREAMING near-duplicate detection: MinHash-LSH dedup over an
  * unbounded document stream — the online form of the batch
  * [[graft.operators.Dedup.minhashNearDups]] pipeline (continuous
  * ingest dedup is where a training-data pipeline actually runs: docs
  * arrive forever, and "have I seen something like this" must be
  * answered incrementally, not by re-joining the corpus).
  *
  * Shape: per doc, the SAME seeded deterministic signature machinery as
  * the batch path (hashed token set → fused MinHashBands kernel),
  * exploded to one row per band; state lives per (band, band_hash)
  * BUCKET and holds one long — the first doc id that claimed the
  * bucket. A doc collides if ANY of its band buckets was already
  * claimed by a different doc. State is bounded: one long per distinct
  * bucket within the event-time horizon — buckets expire via
  * EventTimeTimeout once the watermark passes their last activity plus
  * the horizon (the streaming analogue of
  * `dropDuplicatesWithinWatermark`).
  *
  * Semantics note (documented trade-off, not an accident): the batch
  * pipeline VERIFIES candidate pairs with an exact Jaccard pass; the
  * streaming form flags on band collision alone — LSH-probabilistic
  * dedup, tunable by (numHashes, bands). A verifying variant would
  * stream-static join flagged docs against the kept corpus; that join
  * is batch-refreshed, so the collision flag is the honest streaming
  * core. Within a micro-batch, bucket claim order is by ascending doc
  * id (explicit sort in the handler — group iterators have no order
  * guarantee), so output is deterministic run-to-run.
  */
object NearDupStream {

  /** One output row per (doc, band): did this band's bucket already
    * belong to an earlier doc, and to whom. */
  case class BandFlag(doc_id: Long, band: Int, collided: Boolean, keeper_id: Long)

  private final val Seed = 1

  /** Per-bucket claim state: (keeper doc id, max event time seen). */
  def bandFlags(docs: DataFrame, tsCol: String, watermark: String,
                horizonMs: Long, numHashes: Int = 32, bands: Int = 8)
      : Dataset[BandFlag] = {
    import docs.sparkSession.implicits._
    // watermark AFTER the rename/cast so the event-time tag sits on the
    // column that survives into the stateful operator; _outer because a
    // plain posexplode's inferred size > 0 filter would sign twice
    val banded = docs
      .select(col("doc_id").cast("long"),
        col(tsCol).cast("timestamp").as("_ts"), col("text"))
      .withWatermark("_ts", watermark)
      .select(col("doc_id"), col("_ts"),
        posexplode_outer(graft.functions.MinHashBands(
          Dedup.hashedTokenSet(col("text")), numHashes, bands, Seed)).as(Seq("band", "bh")))
      .as[(Long, java.sql.Timestamp, Int, Long)]
    banded
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), it: Iterator[(Long, java.sql.Timestamp, Int, Long)],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // deterministic claim order within the batch
            val batch = it.toArray.sortBy(_._1)
            val out = Array.newBuilder[BandFlag]
            // Option emptiness, not a sentinel — a negative doc_id is a
            // valid keeper and must not read as "unclaimed"
            var claim: Option[Long] = state.getOption.map(_._1)
            // running ALL-TIME max event time: a late row in a later
            // batch must not shorten the bucket's lifetime (per-batch
            // max would overwrite a later expiry with an earlier one)
            var maxTs = state.getOption.map(_._2).getOrElse(Long.MinValue)
            batch.foreach { case (docId, ts, band, _) =>
              maxTs = math.max(maxTs, ts.getTime)
              claim match {
                case None =>
                  claim = Some(docId)
                  out += BandFlag(docId, band, collided = false, docId)
                case Some(keeper) =>
                  out += BandFlag(docId, band, collided = docId != keeper, keeper)
              }
            }
            state.update((claim.get, maxTs))
            // expire the bucket once the watermark passes last activity +
            // horizon. Input older than the watermark never reaches this
            // handler (FlatMapGroupsWithStateExec filters late rows under
            // EventTimeTimeout — StreamingSpec pins that contract), so
            // maxTs >= watermark here; the clamp guards the remaining
            // edge (horizonMs = 0 would set the expiry EQUAL to the
            // watermark, which setTimeoutTimestamp rejects).
            state.setTimeoutTimestamp(
              math.max(maxTs + horizonMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Per-batch reduction of [[bandFlags]] output to a keep/drop decision
    * (plain batch aggregation — run it inside foreachBatch or on a
    * materialized micro-batch): a doc is a near-dup if ANY band
    * collided; `dup_of` is the smallest keeper among collided bands
    * (null for kept docs). All of a doc's band rows are produced in the
    * micro-batch that carried the doc, so the reduction is complete
    * per batch. */
  def keepDecisions(flags: DataFrame): DataFrame =
    flags.groupBy(col("doc_id"))
      .agg(max(col("collided")).as("is_dup"),
        min(when(col("collided"), col("keeper_id"))).as("dup_of"))
      .select(col("doc_id"), col("is_dup"), col("dup_of"))
}
