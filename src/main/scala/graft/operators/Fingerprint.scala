package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent corpus fingerprint backing persisted-index staleness
  * checks (VERDICT r8 item 3: the driver regenerates fixture parquet IN
  * PLACE, so an index keyed only by source path can silently serve answers
  * for data that no longer exists).
  *
  * The fingerprint is `(row count, SUM of xxhash64 over the named columns,
  * mod 2^64)` computed in ONE column-pruned aggregate scan:
  *
  *  - Sum is associative/commutative ⇒ the value is independent of row
  *    order and partitioning, and an append merges in O(1)
  *    ([[merge]] is a wrapping add) — no index-wide recompute on
  *    incremental maintenance.
  *  - Sum, unlike XOR, is multiplicity-sensitive: XOR cancels any row
  *    appearing an even number of times, so {A,A,B,B} and {C,C,D,D}
  *    would collide at (4, 0) and a stale index would read as fresh.
  *    The sum is kept mod 2^64 (a wrapping long add, no ANSI overflow),
  *    which a Scala wrapping `+` also reproduces on merge.
  *  - A check costs a single pruned scan + 16-byte agg — orders of
  *    magnitude cheaper than the rebuild it guards (quantizer training /
  *    128 min-hashes per doc), and skippable entirely by deployments
  *    with an immutable corpus contract.
  */
object Fingerprint {

  /** One pruned scan, ONE Spark job: (n_rows, sum of xxhash64(cols...)
    * mod 2^64). Each task sums its own rows with a wrapping add and the
    * driver adds the task sums — the same low 64 bits as the exact sum.
    * Empty input fingerprints as (0, 0). */
  def of(df: DataFrame, cols: Seq[String]): (Long, Long) =
    df.select(xxhash64(cols.map(col): _*)).rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += r.getLong(0) }
      Iterator((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))

  /** Fingerprint of (a ∪ b) from the parts — the append path. The
    * wrapping long add equals decimal-sum-mod-2^64 of the union. */
  def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (a._1 + b._1, a._2 + b._2)

  /** Fingerprint of (a \ b) from the parts — the remove path (index-side
    * targeted delete). Exact inverse of [[merge]] PROVIDED b's rows were
    * really in a with the same (id, text/vector) values: the wrapping
    * subtract equals decimal-sum-mod-2^64 of the difference. The remove
    * operators enforce that precondition (all victim ids indexed) before
    * subtracting. */
  def unmerge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (a._1 - b._1, a._2 - b._2)

  // ---- per-batch merge idempotence (ADVICE r9) -------------------------
  //
  // The documented crash-between-append-and-marker replay re-runs an
  // index append: the duplicated band/cell ROWS are tolerated by probe
  // semantics, but merging the delta fingerprint a second time would
  // drift meta away from the corpus of record forever (next ensure() →
  // spurious full rebuild). Each append therefore records its (tag →
  // delta fingerprint) as one LINE of the tiny `<indexDir>/tagfp/<tag>`
  // file; a replay presents the same tag with an already-recorded delta
  // fingerprint and the merge is skipped. A DIFFERENT delta under a
  // reused tag (legitimate repeated `append(tag = "append")` calls on
  // the append-mode indexes) still merges — the file accumulates the
  // SET of applied fingerprints per tag, so a crash-replay of any EARLIER
  // batch under a reused tag is also recognized (a last-pair-only record
  // would re-merge it and drift meta).

  /** The ONE sanitization shared by every tag-derived namespace —
    * `_src` partition values, tagfp/ records, rmstate/ dirs, removed/
    * tombstone batches. These namespaces are compared against each
    * other (recordedTags vs _src, pending removals vs rmTags), so a
    * charset drift between copies would silently break the guards. */
  def sanitizeTag(tag: String): String =
    tag.replaceAll("[^a-zA-Z0-9._-]", "_")

  private def tagPath(indexDir: String, tag: String) =
    new org.apache.hadoop.fs.Path(
      s"$indexDir/tagfp/${sanitizeTag(tag)}")

  private def readTagSet(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path): Set[String] =
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      txt.split("\n").filter(_.nonEmpty).toSet
    }

  /** Has this exact (tag, delta-fingerprint) batch already been applied
    * to the index? The crash-replay detector. */
  def wasApplied(conf: org.apache.hadoop.conf.Configuration,
                 indexDir: String, tag: String, fp: (Long, Long)): Boolean = {
    val p = tagPath(indexDir, tag)
    readTagSet(p.getFileSystem(conf), p).contains(s"${fp._1},${fp._2}")
  }

  /** Has this tag been used by ANY prior applied batch? Overwrite-mode
    * indexes (tag-scoped dynamic overwrite, e.g. [[ClusterIndex]]) must
    * REJECT a different delta under a used tag — the overwrite would
    * silently destroy the earlier batch's rows. */
  def tagUsed(conf: org.apache.hadoop.conf.Configuration,
              indexDir: String, tag: String): Boolean = {
    val p = tagPath(indexDir, tag)
    readTagSet(p.getFileSystem(conf), p).nonEmpty
  }

  /** Record that (tag, fp) has been merged into meta — the append
    * commit point ([[IndexMaintenance.append]]). Appends to the tag's
    * fingerprint set (read-modify-write: object stores lack append, and
    * the file holds a handful of 40-byte lines). */
  def recordMerge(conf: org.apache.hadoop.conf.Configuration,
                  indexDir: String, tag: String, fp: (Long, Long)): Unit = {
    val p = tagPath(indexDir, tag)
    val fs = p.getFileSystem(conf)
    val merged = readTagSet(fs, p) + s"${fp._1},${fp._2}"
    val out = fs.create(p, true)
    try out.write(merged.toSeq.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Sanitized names of every tag with a recorded fingerprint merge —
    * the same namespace as `_src` partition values (identical
    * sanitization), so the remove() families can check a victim row's
    * ingest provenance against it: a victim whose append crashed MID
    * append (rows landed, merge never recorded) must not be subtracted,
    * because its fingerprint was never added. */
  def recordedTags(conf: org.apache.hadoop.conf.Configuration,
                   indexDir: String): Set[String] = {
    val d = new org.apache.hadoop.fs.Path(s"$indexDir/tagfp")
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).map(_.getPath.getName).toSet
  }

  // ---- removal-commit state (ADVICE r11) -------------------------------
  //
  // The remove() families used to present their fingerprint commit as a
  // single atomic point, but it was two writes (meta overwrite, then
  // recordMerge): a crash BETWEEN them made the replay see
  // wasApplied=false and subtract the victims' fingerprint a SECOND
  // time, permanently drifting meta from the surviving corpus. The fix
  // makes the meta write idempotent: before anything mutates, the
  // remove persists (victims-fingerprint, TARGET meta fingerprint) under
  // `<indexDir>/rmstate/<rmTag>/commit`; the meta write then always
  // recomputes from that persisted record, so replaying it any number
  // of times lands on the same value. The record doubles as the
  // leftover-state guard: a DIFFERENT victim set under a tag with
  // surviving state is refused before mutation. State is cleared LAST,
  // when every rewrite has converged.

  private def rmStateDir(indexDir: String, rmTag: String) =
    new org.apache.hadoop.fs.Path(
      s"$indexDir/rmstate/${sanitizeTag(rmTag)}")

  /** The state dir path for callers persisting extra plan tables beside
    * the commit record (ClusterIndex's re-split plan). */
  def removeStatePath(indexDir: String, rmTag: String): String =
    rmStateDir(indexDir, rmTag).toString

  /** Persist the removal-commit record: the victims' fingerprint (the
    * leftover-state guard) and the target meta fingerprint, None when
    * meta must be left untouched (replayed removal whose subtraction
    * already committed, or a legacy index without a fingerprint). */
  def writeRemoveState(conf: org.apache.hadoop.conf.Configuration,
                       indexDir: String, rmTag: String, vfp: (Long, Long),
                       target: Option[(Long, Long)]): Unit = {
    val p = new org.apache.hadoop.fs.Path(rmStateDir(indexDir, rmTag), "commit")
    val fs = p.getFileSystem(conf)
    val txt = s"vfp=${vfp._1},${vfp._2}\n" +
      target.fold("target=none")(t => s"target=${t._1},${t._2}")
    // write-then-RENAME: on rename-capable filesystems a crash between
    // create and write can never leave a torn `commit` (the families
    // read this file as their replay marker); on object stores the
    // final PUT is atomic anyway and the rename degrades to copy+delete
    // of a 40-byte object
    val tmp = new org.apache.hadoop.fs.Path(rmStateDir(indexDir, rmTag),
      "commit.tmp")
    val out = fs.create(tmp, true)
    try out.write(txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false) // re-write path (replays)
    require(fs.rename(tmp, p),
      s"could not commit removal state at $p (rename refused)")
  }

  /** Every fingerprint recorded under `tag`, parsed — the r15 staged
    * remove's replay meta rule sums these for tags recorded after the
    * removal's meta-base snapshot ([[writeRemoveMetaBase]]). */
  def tagFingerprints(conf: org.apache.hadoop.conf.Configuration,
                      indexDir: String, tag: String): Seq[(Long, Long)] = {
    val p = tagPath(indexDir, tag)
    readTagSet(p.getFileSystem(conf), p).toSeq.sorted.map { line =>
      val Array(a, b) = line.split(","); (a.toLong, b.toLong)
    }
  }

  /** Persist the removal's meta BASE record (r15, beside `commit`): the
    * PRE-subtraction meta fingerprint and the recorded-tag snapshot at
    * state-commit time. The replay meta rule uses it to stay exact
    * under appends interleaved between a crash (or the staged remove's
    * lease-free window) and the replay: with A = the fingerprints of
    * tags recorded since the snapshot (all additive and commutative),
    * current meta reads either pre+A (subtraction never landed — write
    * target+A) or target+A (it landed — leave meta alone); anything
    * else means a non-append mutated meta mid-removal and the replay
    * refuses loudly. The absolute-target overwrite alone would WIPE the
    * interleaved appends' merges on replay. */
  def writeRemoveMetaBase(conf: org.apache.hadoop.conf.Configuration,
                          indexDir: String, rmTag: String,
                          pre: (Long, Long), tags: Set[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(rmStateDir(indexDir, rmTag), "metabase")
    val fs = p.getFileSystem(conf)
    // tag names are sanitizeTag output ([a-zA-Z0-9._-]) — comma-safe
    val txt = s"pre=${pre._1},${pre._2}\ntags=${tags.toSeq.sorted.mkString(",")}"
    val tmp = new org.apache.hadoop.fs.Path(rmStateDir(indexDir, rmTag),
      "metabase.tmp")
    val out = fs.create(tmp, true)
    try out.write(txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p),
      s"could not commit removal meta base at $p (rename refused)")
  }

  def readRemoveMetaBase(conf: org.apache.hadoop.conf.Configuration,
                         indexDir: String, rmTag: String): Option[((Long, Long), Set[String])] = {
    val p = new org.apache.hadoop.fs.Path(rmStateDir(indexDir, rmTag), "metabase")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val kv = txt.split("\n").map(_.split("=", 2)).collect {
        case Array(k, v) => k -> v
      }.toMap
      val Array(a, b) = kv("pre").split(",")
      Some(((a.toLong, b.toLong),
        kv.getOrElse("tags", "").split(",").filter(_.nonEmpty).toSet))
    }
  }

  /** First-pass removal-state commit shared by all six removal sites
    * (r15): refuse a DIFFERENT victim set under leftover state, then —
    * only when no state survives — persist the meta BASE first (inert
    * on its own; see [[writeRemoveMetaBase]]) and the commit record
    * second. Idempotent across replays. */
  def ensureRemoveState(conf: org.apache.hadoop.conf.Configuration,
                        indexDir: String, rmTag: String, vfp: (Long, Long),
                        replay: Boolean, oldFp: Option[(Long, Long)],
                        opName: String): Unit = {
    val state0 = readRemoveState(conf, indexDir, rmTag)
    state0.foreach { case (svfp, _) =>
      if (svfp != vfp) refuse(
        s"$opName: this tag has leftover removal state for a DIFFERENT " +
          "victim set (a crashed removal under it never completed) — " +
          "re-run that removal with its original victims first, or clear " +
          "its rmstate dir after verifying it")
    }
    if (state0.isEmpty) {
      if (!replay) oldFp.foreach { pre =>
        writeRemoveMetaBase(conf, indexDir, rmTag, pre,
          recordedTags(conf, indexDir))
      }
      writeRemoveState(conf, indexDir, rmTag, vfp,
        if (replay) None else oldFp.map(unmerge(_, vfp)))
    }
  }

  /** The interleaving-exact meta resolution shared by all six removal
    * sites (r15): Some(fp) = the caller must overwrite meta with fp;
    * None = leave meta alone (no subtraction recorded, or it already
    * landed). See [[writeRemoveMetaBase]] for the reconstruction rule;
    * a meta matching neither legitimate reading refuses loudly. */
  def resolveRemovalMeta(conf: org.apache.hadoop.conf.Configuration,
                         indexDir: String, rmTag: String,
                         metaNow: Option[(Long, Long)],
                         opName: String): Option[(Long, Long)] =
    readRemoveState(conf, indexDir, rmTag).flatMap(_._2).flatMap { tgt =>
      (readRemoveMetaBase(conf, indexDir, rmTag), metaNow) match {
        case (Some((pre, tags0)), Some(now)) =>
          // exclude the operation's OWN record from the addend: removals
          // record under rmTag itself, append commits (r16,
          // [[ensureAppendState]]) under the BARE tag their `ap.` state
          // tag wraps — counting either as an "interleaved append" would
          // re-apply the very delta the target already contains
          val own = sanitizeTag(rmTag)
          val newTags = (recordedTags(conf, indexDir) -- tags0) -
            own - own.stripPrefix("ap.")
          val addend = newTags.toSeq.sorted
            .flatMap(tagFingerprints(conf, indexDir, _))
            .foldLeft((0L, 0L))(merge)
          val expectApplied = merge(tgt, addend)
          val expectNot = merge(pre, addend)
          if (now == expectApplied) None // subtraction already landed
          else if (now == expectNot) Some(expectApplied)
          else refuse(
            s"$opName: meta fingerprint $now matches neither the " +
              s"pre-removal ($expectNot) nor the post-removal " +
              s"($expectApplied) reading under the appends recorded since " +
              "this removal began — something other than an append (a " +
              "rebuild?) mutated the index mid-removal; verify it, clear " +
              "the rmstate dir, and re-run the removal")
        case _ =>
          // legacy pre-r15 state (no base), or a caller without a
          // fingerprinted meta: the absolute target — pre-r15 behavior
          Some(tgt)
      }
    }

  /** First-pass APPEND-commit state, written by every family's append
    * ([[IndexMaintenance.append]] step 7): the plain
    * write-meta-then-record ordering left a crash window where the
    * replay merged the delta a SECOND time — a spurious rebuild for a
    * fingerprint-only meta, silent mis-scoring for TermIndex, which
    * serves (n_rows, sum_dl) from meta. The state lives under
    * `rmstate/ap.<tag>` (the removal namespace on purpose — a crashed
    * append must block removals/rebuilds exactly like a crashed
    * removal, and [[requireNoOtherPendingRemoval]] already reads that
    * dir), metabase-first, with target = merge(pre, delta); the meta
    * write then goes through [[resolveRemovalMeta]]'s
    * interleaving-exact reconstruction, so every crash boundary — and
    * appends interleaved across one — replays to the same value. The
    * caller refuses leftover state for a DIFFERENT delta before any
    * write; existing state is kept as is. */
  def ensureAppendState(conf: org.apache.hadoop.conf.Configuration,
                        indexDir: String, apTag: String, dfp: (Long, Long),
                        pre: (Long, Long)): Unit =
    if (readRemoveState(conf, indexDir, apTag).isEmpty) {
      writeRemoveMetaBase(conf, indexDir, apTag, pre,
        recordedTags(conf, indexDir))
      writeRemoveState(conf, indexDir, apTag, dfp, Some(merge(pre, dfp)))
    }

  /** Read back the removal-commit record — None when no state survives
    * (fresh removal, or a prior one that ran to completion). */
  def readRemoveState(conf: org.apache.hadoop.conf.Configuration,
                      indexDir: String, rmTag: String): Option[((Long, Long), Option[(Long, Long)])] = {
    val p = new org.apache.hadoop.fs.Path(rmStateDir(indexDir, rmTag), "commit")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      try {
        val kv = txt.split("\n").map(_.split("=", 2)).collect {
          case Array(k, v) => k -> v
        }.toMap
        def pair(v: String) = {
          val Array(a, b) = v.split(","); (a.toLong, b.toLong)
        }
        Some((pair(kv("vfp")),
          kv.get("target").filter(_ != "none").map(pair)))
      } catch {
        case e @ (_: MatchError | _: NoSuchElementException |
                  _: NumberFormatException) =>
          throw new IllegalStateException(
            s"unreadable removal-state record at $p (content: '$txt') — " +
              "a legacy pre-rename writer may have torn it; verify the " +
              "index, clear the rmstate dir, and re-run the removal", e)
      }
    }
  }

  /** Drop a removal's state dir — the removal's LAST step. */
  def clearRemoveState(conf: org.apache.hadoop.conf.Configuration,
                       indexDir: String, rmTag: String): Unit = {
    val d = rmStateDir(indexDir, rmTag)
    val fs = d.getFileSystem(conf)
    if (fs.exists(d)) fs.delete(d, true)
  }

  /** Sanitized tags of removals whose state dir survives — i.e. crashed
    * removals that never completed. A NEW removal under a different tag
    * must refuse while any of these exist: its discovery would read
    * tables the crashed removal half-rewrote (the plan-first protocol's
    * pristine-tables premise), and nothing would ever replay the
    * crashed legs — victims lingering physically while meta already
    * shows them subtracted. */
  def pendingRemovals(conf: org.apache.hadoop.conf.Configuration,
                      indexDir: String): Set[String] =
    stateTags(conf, indexDir).filterNot(committedAppend(conf, indexDir, _))

  private def stateTags(conf: org.apache.hadoop.conf.Configuration,
                        indexDir: String): Set[String] = {
    val d = new org.apache.hadoop.fs.Path(s"$indexDir/rmstate")
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).map(_.getPath.getName).toSet
  }

  /** An `ap.<tag>` state whose (tag, delta) merge is already recorded:
    * the append passed its commit point ([[recordMerge]]) and crashed
    * before clearing the state. A streaming replay skips such a batch
    * (its tag is used), so the state would otherwise pend forever and
    * block every later removal. It is done, not pending. */
  private def committedAppend(conf: org.apache.hadoop.conf.Configuration,
                              indexDir: String, state: String): Boolean =
    state.startsWith("ap.") && readRemoveState(conf, indexDir, state)
      .exists(st => wasApplied(conf, indexDir, state.stripPrefix("ap."), st._1))

  /** Drop every committed append state (see [[committedAppend]]). */
  private def clearCommittedAppends(conf: org.apache.hadoop.conf.Configuration,
                                    indexDir: String): Unit =
    stateTags(conf, indexDir).filter(committedAppend(conf, indexDir, _))
      .foreach(clearRemoveState(conf, indexDir, _))

  /** A remove() family's PRE-MUTATION refusal: nothing has been
    * written when this is thrown, so compensating state a caller
    * staged for the removal (rtbfPurgeStream's tombstones) is safe
    * to roll back. Post-mutation failures deliberately do NOT use this
    * type — see S4Stream.runPurge's rollback catch. */
  final class RemovalRefused(msg: String) extends IllegalArgumentException(msg)

  private[operators] def refuse(msg: String): Nothing =
    throw new RemovalRefused(msg)

  /** The mid-append-crash guard tail shared by the three remove()
    * families: given the victims' row-provenance `_src` values, refuse
    * when any belongs to an append whose merge never recorded — its
    * fingerprint was never added, so subtracting it would drift meta
    * from the corpus of record permanently. */
  def requireRecordedProvenance(conf: org.apache.hadoop.conf.Configuration,
                                indexDir: String, vSrcs: Set[String],
                                opName: String): Unit = {
    val unrecorded = vSrcs - "build" -- recordedTags(conf, indexDir)
    if (unrecorded.nonEmpty) refuse(
      s"$opName: victims were ingested by append batch(es) " +
        s"${unrecorded.mkString(", ")} whose fingerprint merge never " +
        "committed (a crash mid-append) — let the ingest replay " +
        "complete, or rebuild the index, before taking these down")
  }

  // ---- in-flight heartbeat for lease-free removal halves (r17) ---------
  //
  // ClusterRemoval.logicalRemove's serve-overlay half runs LEASE-FREE
  // (r16), so its rmstate legitimately pends for the overlay wall on
  // every HEALTHY call — and the pending-state guards used to read any
  // surviving rmstate as "crashed ... never completed": a false
  // diagnosis, and an availability regression for scheduled maintenance
  // that lands in that window (ADVICE r16). A lease-free half now keeps
  // a HEARTBEAT file (`rmstate/<tag>/inflight`, mtime-renewed at TTL/3,
  // exactly a lease's renewal discipline) and the guards classify:
  // every pending state fresh => IN-FLIGHT — wait briefly for it to
  // clear, then throw the RETRYABLE lease-conflict type the takedown/
  // ingest loops already retry on; any state stale or heartbeat-less
  // (in-lease protocols never mark; a crashed half stops renewing and
  // goes stale within one TTL) => the crashed refusal, verbatim.

  private def inflightPath(indexDir: String, tag: String) =
    new org.apache.hadoop.fs.Path(rmStateDir(indexDir, tag), "inflight")

  /** Is this pending removal's lease-free half HEALTHY right now —
    * heartbeat file present and renewed within one lease TTL? Any FS
    * error — not just not-found, but an object-store throttle or a
    * permission blip — degrades to the CONSERVATIVE verdict (false =
    * not provably in-flight): this is a read-only status probe feeding
    * IndexAdmin/IndexCheck and the pending-removal guards, and a probe
    * failure must never turn into an operation failure (ADVICE r17).
    * False routes the caller to the crashed-refusal branch, which is
    * safe: it refuses rather than mutates. */
  def inflightFresh(conf: org.apache.hadoop.conf.Configuration,
                    indexDir: String, tag: String): Boolean = {
    val p = inflightPath(indexDir, tag)
    try System.currentTimeMillis() -
      p.getFileSystem(conf).getFileStatus(p).getModificationTime <=
      IndexMaintenance.leaseTtlMs
    catch { case _: java.io.IOException => false }
  }

  /** Run a lease-free removal half under its in-flight heartbeat: the
    * marker file is created up front, mtime-renewed on the shared
    * heartbeat pool, and removed on exit (normal completion clears the
    * whole state dir moments later anyway; an abnormal one must read as
    * crashed IMMEDIATELY, not a TTL later). A JVM crash skips the
    * cleanup — the file then ages past the TTL and the guards flip to
    * the crashed verdict on their own. */
  def withInflightBeat[T](conf: org.apache.hadoop.conf.Configuration,
                          indexDir: String, rmTag: String)(body: => T): T = {
    val p = inflightPath(indexDir, sanitizeTag(rmTag))
    val fs = p.getFileSystem(conf)
    fs.create(p, true).close()
    // renewals are setTimes-ONLY: a beat racing the finally-cleanup (or
    // the state dir's clearRemoveState) must never RE-CREATE the marker
    // — a resurrected lone inflight file would read as a pending removal
    // nothing ever clears
    val task = IndexMaintenance.scheduleBeat(() =>
      try fs.setTimes(p, System.currentTimeMillis(), -1)
      catch { case scala.util.control.NonFatal(_) => () })
    try body
    finally {
      task.cancel(false)
      try fs.delete(p, false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** How long a guard waits for an in-flight (heartbeat-fresh) removal
    * to clear before throwing the retryable conflict. Bounded: a HUNG
    * half renews forever, and the caller must get control back. */
  private def inflightGraceMs: Long =
    sys.props.get("graft.rmstate.graceMs").map(_.toLong).getOrElse(10000L)

  /** Best-effort PRE-LEASE quiesce: wait up to the grace while every
    * other pending removal on `indexDir` is heartbeat-fresh (a healthy
    * in-flight lease-free half that will clear on its own). Called by
    * the remove/compact verbs BEFORE they acquire their own lease —
    * waiting here cannot starve the in-flight half, because this caller
    * holds nothing the half might need to re-acquire (ADVICE r17: the
    * staged physical path's half re-takes write/remove leases for its
    * later windows, so an in-lease waiter deadlocked it into a false
    * CRASHED verdict). Never throws: classification and refusal stay
    * with [[requireNoOtherPendingRemoval]], re-run under the lease. */
  def awaitInflightQuiesce(conf: org.apache.hadoop.conf.Configuration,
                           indexDir: String, rmTag: String): Unit = {
    val own = sanitizeTag(rmTag)
    def others = pendingRemovals(conf, indexDir) - own
    var pending = others
    if (pending.nonEmpty && pending.forall(inflightFresh(conf, indexDir, _))) {
      val deadline = System.currentTimeMillis() + inflightGraceMs
      while (pending.nonEmpty &&
             pending.forall(inflightFresh(conf, indexDir, _)) &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(250L)
        pending = others
      }
    }
  }

  /** The cross-tag refusal shared by the remove() families (and, via
    * [[IndexMaintenance.beginCompact]], compaction). Pending state that
    * is heartbeat-FRESH is an in-flight lease-free half, not a crash —
    * throw the RETRYABLE conflict for it; anything stale (or
    * heartbeat-less) refuses with the crashed verdict, naming ONLY the
    * stale tags as replay candidates (a fresh in-flight tag must never
    * be told to "re-run with its original tag" — it is running right
    * now; ADVICE r17).
    *
    * `callerHoldsLease`: every remove-family call site runs INSIDE its
    * verb's exclusive lease, and an in-flight staged half may need to
    * RE-ACQUIRE that very lease kind for its later windows — waiting
    * here while holding it starves a healthy removal into a
    * LeaseConflict death and then a false crashed refusal (the r17
    * ADVICE medium). So under a held lease there is NO grace wait: the
    * retryable conflict is thrown immediately and the caller's retry
    * loop (which releases the lease first) provides the window. The
    * polite wait lives in [[awaitInflightQuiesce]], run pre-lease. */
  def requireNoOtherPendingRemoval(conf: org.apache.hadoop.conf.Configuration,
                                   indexDir: String, rmTag: String,
                                   opName: String,
                                   callerHoldsLease: Boolean = false): Unit = {
    clearCommittedAppends(conf, indexDir)
    val own = sanitizeTag(rmTag)
    def others = pendingRemovals(conf, indexDir) - own
    var pending = others
    if (!callerHoldsLease && pending.nonEmpty &&
        pending.forall(inflightFresh(conf, indexDir, _))) {
      val deadline = System.currentTimeMillis() + inflightGraceMs
      while (pending.nonEmpty &&
             pending.forall(inflightFresh(conf, indexDir, _)) &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(250L)
        pending = others
      }
    }
    if (pending.nonEmpty) {
      val (fresh, stale) =
        pending.partition(inflightFresh(conf, indexDir, _))
      if (stale.isEmpty)
        throw new IndexMaintenance.LeaseConflictException(
          s"$opName on $indexDir refused: removal(s) " +
            s"${fresh.mkString(", ")} are IN-FLIGHT (lease-free half, " +
            "heartbeat fresh)" +
            (if (callerHoldsLease)
               " and this caller holds a lease the in-flight half may " +
                 "need — releasing and retrying shortly gives it the window"
             else s" and did not finish within the ${inflightGraceMs}ms " +
               "grace — retry shortly"))
      else refuse(
        s"$opName: crashed removal/append commit(s) ${stale.mkString(", ")} " +
          s"never completed (state under $indexDir/rmstate/; `ap.` entries " +
          "are append commits) — re-run each with its original tag and " +
          "batch to let it replay to completion before starting this " +
          "operation" +
          (if (fresh.nonEmpty)
             s"; removal(s) ${fresh.mkString(", ")} are separately " +
               "IN-FLIGHT and healthy — do NOT replay those, just wait " +
               "for them to clear"
           else ""))
    }
  }

  // ---- FS-metadata freshness fast-path (VERDICT r9 item 2) -------------
  //
  // The content hash above is the freshness AUTHORITY, but it costs a
  // full (column-pruned) corpus scan per check — paid inside the query
  // path by every ensure(). At 100 TB that is a corpus read per probe
  // batch just to learn "nothing changed". The fast path answers
  // "unchanged" from FILE METADATA alone: at build time the index
  // records the corpus' source-file statuses (path, length, mtime — the
  // same change signal Spark's own file streaming source trusts) plus
  // the canonicalized-plan hash of the corpus expression (so the SAME
  // files read through a DIFFERENT filter/projection can never
  // fast-match). On check, ONE directory listing per corpus directory —
  // zero Spark jobs, zero data bytes. ANY drift (or a corpus whose plan isn't a
  // pure file scan, e.g. an in-memory test fixture) falls back to the
  // hash scan, which keeps its role as the authority; the fast path
  // short-circuits toward "fresh" only when every file's (length, mtime)
  // is unchanged. That signal is as strong as Spark's own file-source
  // change detection but NOT airtight: an in-place rewrite that produces
  // an identical-length file within the store's mtime granularity (1 s on
  // some filesystems and object stores) aliases to "unchanged" and would
  // serve the stale index. Deployments rewriting files in place at
  // sub-granularity cadence should disable the fast path (delete
  // `srcstat`) or rely on the content-hash authority alone.

  /** Serialized source status of a corpus DataFrame: the canonicalized
    * plan hash + one `path|length|mtime` line per underlying file,
    * sorted. None when any leaf of the plan is not a file relation (no
    * file-level change signal exists — callers must use the content
    * hash). */
  def sourceStatus(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.optimizedPlan
    val leaves = plan.collectLeaves()
    val allFiles = leaves.nonEmpty && leaves.forall {
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
      case _                  => false
    }
    if (!allFiles) None
    else {
      val files = df.inputFiles
      if (files.isEmpty) None
      else {
        // ONE listStatus per parent directory, not one getFileStatus per
        // file: a 100 TB corpus has O(10⁵) files but few directories,
        // and object stores answer a directory listing in one call. A
        // file deleted between the df's listing and this check (regen
        // race) simply goes missing from the map — its line renders as
        // absent and the status reads stale, instead of throwing.
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        val paths = files.sorted.toSeq.map(new org.apache.hadoop.fs.Path(_))
        val byDir = paths.flatMap(p => Option(p.getParent).map(_ -> p))
          .groupBy(_._1)
        // Keys are FULLY-QUALIFIED path strings (scheme + authority), via
        // the owning fs's makeQualified on BOTH sides so the two render
        // identically. Scheme-stripped getPath keys (pre-r11) let a
        // corpus spanning two filesystems whose directories share a path
        // component shadow one file's (length, mtime) with the other's —
        // drift in the shadowed file could then read as fresh (ADVICE r10).
        val statusOf: Map[String, (Long, Long)] = byDir.flatMap { case (dir, _) =>
          val fs = dir.getFileSystem(conf)
          try fs.listStatus(dir).toSeq
            .map(st => fs.makeQualified(st.getPath).toString ->
              (st.getLen, st.getModificationTime))
          catch { case _: java.io.FileNotFoundException => Seq.empty }
        }
        val qualifiedKey: Map[org.apache.hadoop.fs.Path, String] =
          byDir.flatMap { case (dir, ps) =>
            val fs = dir.getFileSystem(conf)
            ps.map { case (_, p) => p -> fs.makeQualified(p).toString }
          }
        val lines = paths.map { p =>
          statusOf.get(qualifiedKey(p)) match {
            case Some((len, mtime)) => s"$p|$len|$mtime"
            case None               => s"$p|ABSENT"
          }
        }
        Some((s"plan=${plan.semanticHash()}" +: lines).mkString("\n"))
      }
    }
  }

  private def statusPath(indexDir: String) =
    new org.apache.hadoop.fs.Path(s"$indexDir/srcstat")

  /** Record the corpus source status at build time (deleted when status
    * is None — e.g. an in-memory corpus — so a stale record from a prior
    * build can never fast-match). Written AFTER the index tables + meta:
    * a crash mid-build leaves no status record, degrading to the hash
    * scan, never to a false "fresh". */
  def writeSourceStatus(conf: org.apache.hadoop.conf.Configuration,
                        indexDir: String, status: Option[String]): Unit = {
    val p = statusPath(indexDir)
    val fs = p.getFileSystem(conf)
    status match {
      case None => if (fs.exists(p)) fs.delete(p, false)
      case Some(s) =>
        val out = fs.create(p, true)
        try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
    }
  }

  /** Drop the status record — called by every index append(): after a
    * delta merges, the build-time statuses no longer describe the corpus
    * of record, and freshness reverts to the content-hash authority. */
  def clearSourceStatus(conf: org.apache.hadoop.conf.Configuration,
                        indexDir: String): Unit =
    writeSourceStatus(conf, indexDir, None)

  /** Re-arm the freshness fast path after appends (VERDICT r10 item 8):
    * appends clear the status record, so every later ensure() pays the
    * content-hash scan even when nothing changed. When the operator can
    * hand over the file-backed CORPUS OF RECORD (build corpus plus every
    * appended delta — e.g. the ingest lake), this verifies it against
    * the index meta fingerprint (the content-hash authority, one pruned
    * scan — refusing a mismatched corpus, which would turn the fast path
    * into a stale-serving lie) and records its file statuses; subsequent
    * unchanged-corpus ensure() calls are again zero-Spark-job metadata
    * checks. `cols` are the family's fingerprint columns (id + text for
    * the text families, id + vector for [[VectorIndex]]). A non-file
    * corpus records nothing (same rule as build). */
  def recordCorpusStatus(s: org.apache.spark.sql.SparkSession, indexDir: String,
                         corpus: DataFrame, cols: Seq[String]): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val m = IndexSnapshot(s, indexDir).meta
    val recorded = (m.getAs[Long]("n_rows"), m.getAs[Long]("content_hash"))
    val actual = of(corpus, cols)
    require(recorded == actual,
      s"recordCorpusStatus on $indexDir: the given corpus (fingerprint " +
        s"$actual) is not the index's corpus of record ($recorded); " +
        "recording its file statuses would make staleness checks serve a " +
        "mismatched corpus as fresh — pass the build corpus plus every " +
        "appended delta")
    writeSourceStatus(conf, indexDir, sourceStatus(corpus))
  }

  /** The fast path itself: true iff a status record exists AND matches
    * the corpus' current status AND the index meta table is present (the
    * record is written last, but a manual partial wipe must not read as
    * fresh). Costs one listing per corpus directory and no Spark job;
    * false means "don't know" — the caller falls back to the content
    * hash. */
  def statusFresh(indexDir: String, corpus: DataFrame): Boolean = {
    val conf = corpus.sparkSession.sparkContext.hadoopConfiguration
    val p = statusPath(indexDir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) false
    else {
      val in = fs.open(p)
      val recorded = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val metaOk = {
        // meta lives in the index's current data GENERATION (the status
        // record itself is top-level bookkeeping) — resolve like readers do
        val root = IndexMaintenance.liveRoot(conf, indexDir)
        val m = new org.apache.hadoop.fs.Path(s"$root/meta/_SUCCESS")
        m.getFileSystem(conf).exists(m)
      }
      metaOk && sourceStatus(corpus).contains(recorded)
    }
  }

  /** Reset all replay bookkeeping under an index dir — called by every
    * index build(): a rebuild wipes the indexed rows and resets meta to
    * the fresh corpus fingerprint, so surviving `applied/` batch markers
    * (a replayed batch would be skipped though its rows were wiped) and
    * `tagfp/` merge records (stale pairs could suppress a legitimate
    * merge) must go with them. */
  def clearReplayState(conf: org.apache.hadoop.conf.Configuration,
                       indexDir: String): Unit = {
    // before the records go: without them a committed append's leftover
    // state would read as a crashed one
    clearCommittedAppends(conf, indexDir)
    Seq(s"$indexDir/applied", s"$indexDir/tagfp").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }
}
