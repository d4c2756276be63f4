package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level LOGICAL deletion for the persisted indexes (VERDICT r12
  * item 1) — the fast path that makes the marginal takedown cost
  * O(victims) instead of the physical remove()'s full-bucket-rewrite
  * floor. The design is the classic deletion-vector split:
  *
  *  - `logicalRemove` (per family) validates exactly like the physical
  *    remove and commits the same idempotent fingerprint subtraction,
  *    but its only mutation is ONE small parquet write: the victims'
  *    ids under `<indexDir>/deleted/batch=<tag>`. Probes go blind
  *    immediately (every index read anti-joins this set); no table is
  *    rewritten.
  *  - `compact()` physically RECLAIMS: the fold it already performs
  *    filters tombstoned rows out (zero extra I/O — the rows ride the
  *    rewrite the fold was doing anyway), then purges retired
  *    generations (right-to-be-forgotten beats reader grace) and
  *    clears the tombstone set.
  *
  * The tombstone set lives at the index TOP level, outside the data
  * generations (like `rmstate/` and the replay markers), so a
  * generation-pointer flip never moves it; it is bounded by design —
  * every compaction empties it — so the read-side anti-join stays a
  * broadcast-sized equi join (Spark auto-broadcasts off the parquet
  * size stats, the same posture as S4Stream's ingest tombstones).
  *
  * Semantics between the logical step and the reclaim (documented, and
  * pinned by IndexRemoveSpec):
  *
  *  - every probe/top-k/assignment read EXCLUDES tombstoned ids — the
  *    RTBF contract holds from the moment logicalRemove returns;
  *  - a tombstoned id is DEAD until reclaim: appends refuse deltas that
  *    carry one (re-ingesting it would be hidden by the id-scoped
  *    anti-join and then wrongly dropped by the reclaim filter), and
  *    physical remove() refuses while any tombstone pends (its
  *    component re-split discovery would treat logically-deleted rows
  *    as survivors);
  *  - the cluster family's SERVED component structure is correct
  *    immediately (r15): its logicalRemove persists the victims'
  *    component re-split (the same resplitPlan compact's reclaim
  *    executes) as a serve-overlay under [[overlayDir]], and
  *    `assignments()` folds it in — or recomputes it live from the
  *    adjacency log when the overlay is missing or stale — so
  *    consumers see a fresh-build-equal map without waiting for the
  *    physical pass.
  *    `probe()` still labels incoming docs under the coarser pre-split
  *    quotient of the PHYSICAL assign table (its append-side merge
  *    bookkeeping is keyed on those labels) — the split of a probe
  *    label, and the physical retirement of victim rows, land with
  *    compact(). After reclaim the index is bit-equal to a physical
  *    remove and to a fresh build on the survivors.
  *
  * Not to be confused with S4Stream's `removed/` tombstones: those are
  * CONTENT-scoped ingest-replay guards owned by the streaming loops;
  * these are ID-scoped deletion vectors owned by the index families.
  */
private[graft] object LogicalDelete {

  def dir(indexDir: String): String =
    IndexMaintenance.normalize(indexDir) + "/deleted"

  private def dirPath(indexDir: String) =
    new org.apache.hadoop.fs.Path(dir(indexDir))

  /** The cluster family's serve-overlay (r15: the victims' component
    * re-split, persisted by its logicalRemove so reads don't recompute
    * it). Lives beside the batches because its lifetime IS the pending
    * tombstones' — [[clearBatches]] tidies it with them. The `batch=`
    * prefix filter in [[pendingBatches]] keeps it invisible to every
    * batch listing. */
  def overlayDir(indexDir: String): String = dir(indexDir) + "/overlay"
  def overlayMetaDir(indexDir: String): String = dir(indexDir) + "/overlay_meta"

  /** Pending tombstone batch names (sanitized tags) — ops visibility and
    * the compact paths' lease-time snapshot. ONE FS metadata call on
    * every path (ADVICE r13): `exists` + `listStatus` was two LIST
    * round-trips per index read on S3; a missing dir is the common case
    * (no deletion ever pended) and surfaces as FileNotFoundException
    * from the single listStatus instead. */
  def pendingBatches(conf: org.apache.hadoop.conf.Configuration,
                     indexDir: String): Seq[String] = {
    val d = dirPath(indexDir)
    val fs = d.getFileSystem(conf)
    try fs.listStatus(d).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=")).sorted.toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** The union of pending tombstoned ids as a one-column frame, or None
    * when no logical deletion pends — the fast path every read takes on
    * an index that never saw one costs exactly ONE FS metadata call
    * (the [[pendingBatches]] listStatus). The column keeps the id
    * column's ORIGINAL name (as the builder passed it), so [[idColOf]]
    * can recover it at compact time without schema guessing. */
  def ids(s: SparkSession, indexDir: String): Option[DataFrame] =
    idsOf(s, indexDir,
      pendingBatches(s.sparkContext.hadoopConfiguration, indexDir))

  /** [[ids]] for callers that already hold the pending-batch listing
    * (the compact/retrain paths snapshot it under the lease) — zero
    * additional FS metadata calls. The batches are read under the
    * schema [[write]] recorded beside them (one small file read, no
    * schema-inference job); batches written before that record existed
    * fall back to inference. */
  def idsOf(s: SparkSession, indexDir: String,
            batches: Seq[String]): Option[DataFrame] =
    if (batches.isEmpty) None
    else {
      val d = dir(indexDir)
      val paths = batches.map(b => s"$d/batch=$b")
      val raw = schemaOf(s, paths.head).fold(s.read)(s.read.schema).parquet(paths: _*)
      Some(raw.select(col(idColOf(raw))).distinct())
    }

  /** The schema file [[write]] leaves in every batch (hidden from Spark
    * by its `_` prefix), and the marker of a physical remove's barrier
    * batch. */
  private val SchemaFile = "_schema.json"
  private val BarrierFile = "_BARRIER"

  private def schemaOf(s: SparkSession, batchDir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val p = new org.apache.hadoop.fs.Path(batchDir, SchemaFile)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(p)
      val json = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** The index's id column name, recovered from a pending tombstone
    * frame (its only non-partition column). */
  def idColOf(tomb: DataFrame): String =
    tomb.columns.filterNot(_ == "batch").head

  /** Persist one removal batch's DISTINCT victim ids `vids` — the
    * logical remove's only mutation. Readers list and read `batch=<tag>`
    * dirs without a lease, so the batch is written under `_tmp.batch=<tag>` (hidden from
    * [[pendingBatches]] by its `batch=` prefix filter, and from Spark by
    * its `_` prefix) and then PUBLISHED by one directory rename: a
    * reader never lists a batch whose files have not committed. The
    * batch carries its schema ([[idsOf]] reads under it) and, for a
    * physical remove's victim `barrier`, a marker ([[isBarrier]]). A
    * leftover temp dir from a crashed write is overwritten by the next
    * one. Idempotent per batch: a batch already published is complete
    * and identical (tag reuse is refused, so the same tag always
    * carries the same victims), and the write is skipped. The rename is
    * atomic on HDFS and local filesystems; object stores do not rename
    * atomically (a copy then delete), so there a reader can still see a
    * partly copied batch. */
  def write(vids: DataFrame, idCol: String, indexDir: String,
            rmTag: String, barrier: Boolean = false): Unit = {
    val batch = s"batch=${Fingerprint.sanitizeTag(rmTag)}"
    val dest = new org.apache.hadoop.fs.Path(dirPath(indexDir), batch)
    val tmp = new org.apache.hadoop.fs.Path(dirPath(indexDir), s"_tmp.$batch")
    val fs = dest.getFileSystem(vids.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.exists(dest)) {
      val ids = vids.select(col(idCol))
      ids.coalesce(1) // a deletion batch is driver-small by nature
        .write.mode("overwrite").parquet(tmp.toString)
      def put(name: String, body: String): Unit = {
        val out = fs.create(new org.apache.hadoop.fs.Path(tmp, name), true)
        try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      put(SchemaFile, ids.schema.json)
      if (barrier) put(BarrierFile, "")
      if (!fs.rename(tmp, dest))
        throw new java.io.IOException(
          s"tombstone batch could not be published: rename $tmp -> $dest refused")
    }
  }

  /** Whether the pending `batch` is a physical remove's victim barrier
    * ([[write]] with `barrier`), not a logical removal's tombstone of the
    * same name. A barrier written before the marker existed reads as a
    * tombstone and stays until the next compact — the safe direction. */
  def isBarrier(conf: org.apache.hadoop.conf.Configuration, indexDir: String,
                batch: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dirPath(indexDir), s"batch=$batch/$BarrierFile")
    p.getFileSystem(conf).exists(p)
  }

  /** Hide tombstoned rows at read: anti-join `df` against the pending
    * set on `idCol`. No broadcast hint on purpose — the tombstone side
    * reads straight from its (small, compaction-bounded) parquet, so
    * Spark's size stats pick the broadcast; a bulk-sweep-sized set
    * degrades to a shuffle join instead of straining the driver. */
  def hide(df: DataFrame, idCol: String, tomb: Option[DataFrame]): DataFrame =
    tomb.fold(df)(t =>
      df.join(t.select(col(idColOf(t)).as(idCol)), Seq(idCol), "left_anti"))

  /** Refusal shared by the appends and the first run of a logical
    * remove: `keys` must not contain an id that is already tombstoned.
    * For appends, re-ingesting a dead id would be hidden by the
    * id-scoped anti-join and then wrongly dropped by the reclaim
    * filter; for a second logical remove it would double-subtract the
    * fingerprint. This is the removal verbs' form over a resolved
    * victim key set: one job collects the tombstoned victim ids. */
  def requireNotTombstoned(indexDir: String, keys: TargetedDelete.Keys,
                           opName: String): Unit =
    ids(keys.frame.sparkSession, indexDir).foreach { t =>
      val hit = IndexMaintenance.distinctRows(
        keys.semi(t.select(col(idColOf(t)).as(keys.name)), keys.name))
      if (hit.nonEmpty) refuseTombstoned(hit.size.toLong, indexDir, opName)
    }

  private def refuseTombstoned(n: Long, indexDir: String, opName: String): Nothing =
    Fingerprint.refuse(
      s"$opName: $n of the ids are logically deleted (tombstoned under " +
        s"${dir(indexDir)}) and awaiting physical reclaim — compact() the " +
        "index first. (If a compact() just completed, these tombstones " +
        "survived a crash between its cutover and its cleanup and match " +
        "nothing — re-running compact() clears them.)")

  /** Overload for callers that already resolved the pending set — the
    * hot ingest path must not pay a second FS probe + parquet read. */
  def requireNotTombstoned(s: SparkSession, indexDir: String,
                           keys: DataFrame, idCol: String,
                           opName: String, tomb: Option[DataFrame]): Unit =
    tomb.foreach { t =>
      val n = keys.select(col(idCol)).distinct()
        .join(t.select(col(idColOf(t)).as(idCol)), Seq(idCol), "left_semi").count()
      if (n > 0L) refuseTombstoned(n, indexDir, opName)
    }

  /** Refusal for the physical remove(): while ANY tombstone pends, its
    * re-split discovery would count logically-deleted rows as survivors
    * and the post-remove fingerprint equality would break. Reclaim via
    * compact() first. `exceptBatch` (r15): the staged physical remove
    * writes a barrier batch under its OWN tag — a replay re-entering
    * must not refuse over its own barrier, whose ids ARE the victims
    * being erased. */
  def requireNonePending(conf: org.apache.hadoop.conf.Configuration,
                         indexDir: String, opName: String,
                         exceptBatch: Option[String] = None): Unit = {
    val pending = pendingBatches(conf, indexDir)
      .filterNot(b => exceptBatch.contains(b))
    if (pending.nonEmpty) Fingerprint.refuse(
      s"$opName: logical deletion batch(es) ${pending.mkString(", ")} are " +
        s"pending reclaim under ${dir(indexDir)} — run compact() to reclaim " +
        "them before a physical remove. (If a compact() just completed, " +
        "these batches survived a crash between its cutover and its " +
        "cleanup and match nothing — re-running compact() clears them.)")
  }

  /** Drop the whole tombstone set — build()'s rebuild path only (a
    * rebuild wipes the corpus the tombstones were hiding rows of;
    * surviving entries would wrongly hide the REBUILT corpus' rows
    * under recycled ids). Reclaim paths must use [[clearBatches]] with
    * the batch list they actually folded — see its doc. */
  def clear(conf: org.apache.hadoop.conf.Configuration,
            indexDir: String): Unit = {
    val d = dirPath(indexDir)
    val fs = d.getFileSystem(conf)
    if (fs.exists(d)) fs.delete(d, true)
  }

  /** Drop EXACTLY the named tombstone batches — the reclaim paths'
    * cleanup (review-caught r13): compact()/retrain() clear AFTER
    * finishCompact released the compact lease, so a logicalRemove that
    * acquired the freed remove lease in that window may already have
    * written a NEW batch; a whole-set clear would delete it — its
    * victims would resurrect in every probe while meta permanently
    * records them subtracted. Clearing only the fold's own snapshot
    * leaves the newcomer pending for the next reclaim. */
  def clearBatches(conf: org.apache.hadoop.conf.Configuration,
                   indexDir: String, batches: Seq[String]): Unit = {
    val d = dirPath(indexDir)
    val fs = d.getFileSystem(conf)
    batches.foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(d, s"batch=$b"), true)
    }
    // The serve-overlay keyed to these batches is stale the moment they
    // reclaim (its recorded root/fingerprint/batch-list no longer match,
    // so no reader will serve it) — tidy it non-fatally. Meta first: a
    // racing reader validates meta before touching the payload, and any
    // read error inside its try falls back to the live recompute.
    try {
      fs.delete(new org.apache.hadoop.fs.Path(overlayMetaDir(indexDir)), true)
      fs.delete(new org.apache.hadoop.fs.Path(overlayDir(indexDir)), true)
    } catch { case scala.util.control.NonFatal(_) => () }
    // Tidy the now-empty parent, but NEVER fail the compact over it: a
    // logicalRemove that acquired the freed remove lease may be writing
    // a new batch dir between our listStatus and the delete — the
    // non-recursive delete then throws on HDFS/object stores after the
    // cutover already committed (ADVICE r13). An undeleted empty
    // deleted/ dir is harmless; the next write recreates its children.
    try {
      if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false)
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}
