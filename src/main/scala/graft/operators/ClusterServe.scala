package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The read-only PROBE core — incoming docs' exact union-corpus
  * components via the quotient argument on [[ClusterIndex]]'s class
  * doc. Consumed by [[ClusterIndex.probe]] (read path) and
  * [[ClusterIndex.append]] (which also writes the delta it probed).
  * Split out of the facade in r16 (VERDICT r15 item 4) — pure code
  * motion, zero behavior change.
  */
private[operators] object ClusterServe {

  import ClusterIndex.{tokenize, readMeta, sanitize, tb, idb}

  /** Incoming docs' components under the UNION corpus (exact — see the
    * quotient argument in the class doc), plus the merge map for old
    * components the delta bridged, plus the delta's (already
    * checkpointed) token sets so [[append]] doesn't tokenize twice, the
    * verified (incoming, indexed) pairs, and the delta's own edges in
    * the set-node form salted by `salt` — the same repGraph pass as the
    * CC input ([[SetSimJoin.jaccardEdgesWithLog]]); a probe never reads
    * it. Pure query: mutates nothing. */
  private[operators] def probeParts(s: SparkSession, snap: IndexSnapshot.Snapshot,
                         incoming: DataFrame,
                         idCol: String, textCol: String,
                         excludeTag: Option[String],
                         tomb: Option[DataFrame], salt: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val root = snap.root
    val (t, nBuckets) = readMeta(snap)
    // lazy checkpoints throughout: each frame's FIRST consumer (a bounded
    // collect or append's eager assignD checkpoint) materializes the
    // blocks inside its own job, so the probe path pays no standalone
    // checkpoint jobs — on a small delta the sequential-job count, not
    // data volume, dominates wall-clock
    val incToks = tokenize(incoming, idCol, textCol)
      .localCheckpoint(eager = false)
    // delta-internal connectivity (sparse star+rep form, exact), and
    // the same graph in the edge log's set-node form
    val (star, deltaEdges) =
      SetSimJoin.jaccardEdgesWithLog(incToks, idCol, "_toks", t, salt)
    val inner = star.select(col("id1").as("src"), col("id2").as("dst"))
    // probe prefix: the |x| - ceil(t|x|) + 1 rarest tokens by the FROZEN
    // df hint (new tokens coalesce to df 0 — rarest). ONE bounded collect
    // (<= nBuckets longs) of the delta's token buckets turns BOTH the df
    // and postings reads into static partition filters, the same recipe
    // as TextIndex/VectorIndex (prefix buckets are a subset of the
    // delta's token buckets, so reusing the superset list is pruning-
    // correct and saves a second collect barrier).
    val occ = incToks.select(col(idCol).as("_inc"),
      size(col("_toks")).as("_szi"), explode(col("_toks")).as("_tok"))
      .localCheckpoint(eager = false) // feeds the bucket collect AND the ranked join
    val touchedTb = occ.select(tb(col("_tok"), nBuckets).as("tb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val dfHint = s.read.parquet(s"$root/df")
      .filter(col("tb").isin(touchedTb: _*)).select(col("_tok"), col("df"))
    val pref = occ.join(dfHint, Seq("_tok"), "left")
      .withColumn("_df", coalesce(col("df"), lit(0L)))
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("_inc")).orderBy(col("_df"), col("_tok"))))
      .filter(col("_rk") <= col("_szi") - ceil(lit(t) * col("_szi") - lit(1e-9)) + 1)
      .select(col("_tok"), col("_inc"), col("_szi"))
    val postAll = s.read.parquet(s"$root/postings")
      .filter(col("tb").isin(touchedTb: _*))
    // _src is a PARTITION column (never null): plain =!= is both safe
    // and pruned at the file level. Logically-deleted docs leave the
    // candidate pool HERE (the tombstone anti-join) — cands, the toks
    // verify, and the assign bridge are all keyed by these refs, so one
    // exclusion point blinds the whole probe.
    val post = LogicalDelete.hide(
      excludeTag.fold(postAll)(tg =>
        postAll.filter(col("_src") =!= lit(sanitize(tg)))),
      idCol, tomb)
    val cands = pref
      .join(post.select(col("_tok"), col(idCol).as("_ref"), col("_sz").as("_szr")), "_tok")
      // size filter: J >= t forces t|x| <= |y| <= |x|/t
      .filter(col("_szr") >= lit(t) * col("_szi") - lit(1e-9)
        && col("_szi") >= lit(t) * col("_szr") - lit(1e-9))
      .select(col("_inc"), col("_ref")).distinct()
      .localCheckpoint(eager = false) // feeds the bucket collect AND the verify join
    val candIdb = cands.select(idb(col("_ref"), nBuckets).as("idb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    def prunedByIdb(table: String): DataFrame = {
      val all = s.read.parquet(s"$root/$table")
        .filter(col("idb").isin(candIdb: _*))
      excludeTag.fold(all)(tg => all.filter(col("_src") =!= lit(sanitize(tg))))
    }
    // exact verification — the same predicate-only accept set as
    // Dedup.jaccardVerifyAtLeast (J >= t ⟺ overlap >= ceil(t/(1+t)(|x|+|y|)))
    val matches = cands
      .join(incToks.select(col(idCol).as("_inc"), col("_toks").as("_ti")), "_inc")
      .join(prunedByIdb("toks").select(col(idCol).as("_ref"), col("_toks").as("_tr")), "_ref")
      .filter(graft.functions.SortedIntersectAtLeast(col("_ti"), col("_tr"),
        ceil(lit(t / (1 + t)) * (size(col("_ti")) + size(col("_tr"))) - lit(1e-9)).cast("int")))
      .select(col("_inc"), col("_ref"))
    // quotient-graph edges: delta-internal pairs + (incoming -> matched
    // existing COMPONENT). Old components enter as single super-nodes.
    // Against a large near-dup family the raw relation is multi-edged
    // (an incoming doc verifies hundreds of member refs that all map to
    // ONE component — 2.7M rows at the sf1 fixture); the DISTINCT
    // collapses it to <= |delta| x (components touched) rows. CC's own
    // normalize stage would also collapse the duplicates (so this is not
    // a correctness requirement, and bridge must STILL go through
    // normalize — its edges are not src>dst oriented), but the second
    // consumer would not: without distinct+checkpoint the merge map
    // re-executes the whole candidate+verify chain and re-reads the
    // multi-edge relation.
    val bridge = matches
      .join(prunedByIdb("assign").select(col(idCol).as("_ref"), col("component")), "_ref")
      .select(col("_inc").as("src"), col("component").as("dst"))
      .distinct()
      .localCheckpoint(eager = false)
    val qcc = ConnectedComponents.components(
        inner.unionByName(bridge), "src", "dst")
      .select(col("id").as("_ccid"), col("component").as("_cccomp"))
      .localCheckpoint(eager = false) // feeds incoming assignment AND the merge map
    val assignInc = incoming.select(col(idCol))
      .join(qcc, col(idCol) === col("_ccid"), "left")
      .select(col(idCol), coalesce(col("_cccomp"), col(idCol)).as("component"))
    val merges = bridge.select(col("dst").as("loser")).distinct()
      .join(qcc, col("loser") === col("_ccid"))
      .filter(col("_cccomp") =!= col("loser"))
      .select(col("loser"), col("_cccomp").as("winner"))
    // matches is returned UN-checkpointed: probe() never consumes it (no
    // cost), append() writes it to the adjacency log (its one extra
    // consumer re-executes the verify chain — delta-sized)
    (assignInc, merges, incToks, matches, deltaEdges)
  }
}
