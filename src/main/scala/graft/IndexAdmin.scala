package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.operators.{Fingerprint, IndexMaintenance}

/** Read-only operations console for a persisted index directory (any of
  * the four families — text MinHash, IVF vector, cluster, BM25 term —
  * shares the
  * same control layout). One FS pass answers the questions the crash/
  * recovery runbooks otherwise make an operator reconstruct by hand:
  *
  *  - which generation is live, and do retired GC-grace copies linger;
  *  - who holds maintenance leases, how stale their heartbeats are, and
  *    whether the next acquirer would reclaim them;
  *  - which removals crashed mid-flight (rmstate/ — these must be
  *    re-run with their original victims before any new removal);
  *  - which append batches recorded their merge but never reached their
  *    stream's applied/ marker — the crash-window replay candidates the
  *    RTBF tombstones exist for, i.e. the set to drain before
  *    `S4Stream.pruneTombstones` is safe;
  *  - how many takedown tombstone batches accrete under removed/ and
  *    how old they are (the retention decision's inputs).
  *
  * Deliberately has almost NO mutating verbs: every recovery action
  * already has a guarded owner (expired leases self-clear at the next
  * acquire, crashed removals replay under their original tag) — an
  * admin tool that "fixes" any of these by deleting state would bypass
  * exactly the guards that make them safe. The ONE exception is
  * `--prune` (r17, VERDICT r16 item 6): tombstone retention, because
  * its guard set IS this console's advise() rules — see [[prune]] for
  * the gates; everything else stays read-only. Needs no SparkSession:
  * control state is all small files, so `sbt "runMain graft.IndexAdmin
  * <indexDir>..."` answers from a cold JVM in seconds.
  */
object IndexAdmin {

  /** One data table under the live root: parquet file count + bytes. */
  final case class TableStat(name: String, files: Long, bytes: Long)

  final case class Report(
      dir: String,
      gen: Option[Long],          // None = legacy in-place layout
      liveRoot: String,
      retiredGens: Seq[Long],     // GC-grace copies still on disk
      legacyGraceDirs: Seq[String], // top-level tables kept as grace after g1
      stagingGens: Seq[Long],     // g<N> beyond the pointer: crashed compacts
      tables: Seq[TableStat],
      leases: Seq[(String, Long, Boolean)], // (name, ageMs, expired)
      leaseTtlMs: Long,
      pendingRemovals: Set[String],         // crashed remove() tags
      appendTags: Set[String],              // recorded append merges
      removalTags: Set[String],             // recorded removal merges
      appliedMarkers: Set[String],          // stream commit points
      unmarkeredRecordedTags: Set[String],  // recorded, no applied/ marker
      tombstones: Seq[(String, Long)],      // (batch dir, ageMs)
      logicalDeletes: Seq[String],          // pending LogicalDelete batches
      logicalDeleteAges: Seq[(String, Long)], // same batches with ageMs
      sourceStatusPresent: Boolean,
      recallProbes: Seq[(String, Double)] = Seq.empty, // (tag, self-recall), append order
      lastFsckAgeMs: Option[Long] = None, // since the last CLEAN IndexCheck
      inflightRemovals: Set[String] = Set.empty) // pending WITH fresh heartbeat (r17)

  /** Control names that live at the index top level beside the data
    * tables in the LEGACY (never-compacted) layout; excluded from the
    * table listing. Generation dirs (`g<N>`) are matched by pattern. */
  private val controlNames =
    Set("GEN", "lease", "tagfp", "rmstate", "applied", "removed", "srcstat",
      "deleted", // r13: LogicalDelete's pending tombstone batches
      "recall",  // r15: VectorIndex append-time self-recall probe series
      "fsck")    // r16: IndexCheck clean-audit recency marker

  def report(conf: Configuration, indexDir0: String): Report = {
    val dir = IndexMaintenance.normalize(indexDir0)
    val base = new Path(dir)
    val fs = base.getFileSystem(conf)
    require(fs.exists(base), s"IndexAdmin: no such index dir: $dir")

    // ONE pointer read: gen and liveRoot derived from the same value,
    // so a concurrent compaction flip can never yield a report whose
    // generation, root, and table listing disagree with each other
    val gen = IndexMaintenance.currentGen(conf, dir)
    val liveRoot = gen.fold(dir)(g => s"$dir/g$g")
    val children = fs.listStatus(base).toSeq
    val genDirs = children.map(_.getPath.getName)
      .collect { case n if n.matches("g[0-9]+") => n.drop(1).toLong }.sorted
    val retired = gen.fold(Seq.empty[Long])(g => genDirs.filter(_ < g))
    // beyond-the-pointer staging = a crashed compact's partial tree
    // (inert — the next beginCompact clears it), including a g1 beside
    // a legacy pointer-less layout
    val staging = genDirs.filter(_ > gen.getOrElse(0L))
    val topLevelTables = children.filter(st => st.isDirectory &&
      !controlNames.contains(st.getPath.getName) &&
      !st.getPath.getName.matches("g[0-9]+"))
    // after the FIRST cutover the legacy top-level tables survive as
    // the one-generation GC-grace copy (finishCompact deletes them only
    // at the g2 cutover) — without this the report hides exactly the
    // grace bytes it exists to explain
    val legacyGrace =
      if (gen.isEmpty) Seq.empty
      else topLevelTables.map(_.getPath.getName).sorted

    val rootChildren =
      if (liveRoot == dir) topLevelTables
      else {
        val lr = new Path(liveRoot)
        if (fs.exists(lr)) fs.listStatus(lr).toSeq.filter(_.isDirectory)
        else Seq.empty
      }
    val tables = rootChildren.map { st =>
      val cs = fs.getContentSummary(st.getPath)
      TableStat(st.getPath.getName, cs.getFileCount, cs.getLength)
    }.sortBy(_.name)

    val recorded = Fingerprint.recordedTags(conf, dir)
    val (removalTags, appendTags) = recorded.partition(_.startsWith("rm."))
    val applied = IndexMaintenance.committedTags(conf, dir)
    // Only stream-loop tags ever get applied/ markers, and their shape
    // is structural (`ck<runKey>_b<batchId>`) — matched as a pattern,
    // not a prefix, so a direct append whose operator-chosen tag merely
    // starts with "ck" is never flagged as a stream batch it can't be.
    // Takedown batches record under the `rm.` namespace against the
    // SAME marker name, so a takedown that crashed after its index
    // remove but before its marker (lake scrub pending!) surfaces here
    // too, not just crashed appends.
    val ckPat = "ck.*_b[0-9]+"
    val unmarkered =
      appendTags.filter(t => t.matches(ckPat) && !applied(t)) ++
        removalTags.filter { t =>
          val bare = t.stripPrefix("rm.")
          bare.matches(ckPat) && !applied(bare)
        }

    val removedDir = new Path(s"$dir/removed")
    val now = System.currentTimeMillis()
    // age from the newest FILE inside each batch dir: object-store
    // "directory" mtimes are synthetic (0, or listing time), and this
    // batch ages from the newest contained FILE (dir mtimes are synthetic
    // on object stores) — feeds the pruneTombstones retention decision
    // and the advise() deletion-SLA rule. A FILE-LESS batch dir (a write
    // crashed before any data file committed) reports age 0: the
    // synthetic dir mtime can read as epoch on object stores, which
    // would make advise() cry "compact() OVERDUE by 50 years" for a
    // batch written seconds ago — fresh is the conservative direction
    // for both the SLA and the prune decision (r14 review).
    def batchAges(d: Path): Seq[(String, Long)] =
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).toSeq
        .map { st =>
          val files = fs.listStatus(st.getPath).filter(_.isFile)
          val age =
            if (files.nonEmpty)
              math.max(0L, now - files.map(_.getModificationTime).max)
            else 0L
          (st.getPath.getName, age)
        }
        .sortBy(_._1)
    val tombstones = batchAges(removedDir)

    // in-flight vs crashed (r17, ADVICE r16): a pending removal whose
    // lease-free half renews its rmstate heartbeat is HEALTHY — the
    // guards wait/retry on it, and this console must not cry CRASHED
    val pendingRm = Fingerprint.pendingRemovals(conf, dir)
    val inflight = pendingRm.filter(Fingerprint.inflightFresh(conf, dir, _))

    Report(
      dir = dir,
      gen = gen,
      liveRoot = liveRoot,
      retiredGens = retired,
      legacyGraceDirs = legacyGrace,
      stagingGens = staging,
      tables = tables,
      leases = IndexMaintenance.leaseStatus(conf, dir),
      leaseTtlMs = IndexMaintenance.leaseTtlMs,
      pendingRemovals = pendingRm,
      inflightRemovals = inflight,
      appendTags = appendTags,
      removalTags = removalTags,
      appliedMarkers = applied,
      unmarkeredRecordedTags = unmarkered,
      tombstones = tombstones,
      logicalDeletes = operators.LogicalDelete.pendingBatches(conf, dir),
      logicalDeleteAges =
        batchAges(new Path(operators.LogicalDelete.dir(dir)))
          .filter(_._1.startsWith("batch=")) // skip the serve-overlay dirs
          .map { case (n, a) => (n.stripPrefix("batch="), a) },
      sourceStatusPresent = fs.exists(new Path(s"$dir/srcstat")),
      recallProbes = operators.VectorIndex.recallProbes(conf, dir),
      lastFsckAgeMs = IndexCheck.lastFsckAgeMs(conf, dir))
  }

  private def fmtAge(ms: Long): String =
    if (ms < 1000L) s"${ms}ms"
    else if (ms < 60000L) f"${ms / 1000.0}%.0fs"
    else if (ms < 3600000L) f"${ms / 60000.0}%.1fm"
    else f"${ms / 3600000.0}%.1fh"

  def render(r: Report): String = {
    val sb = new StringBuilder
    sb ++= s"index: ${r.dir}\n"
    sb ++= s"  generation: ${r.gen.fold("legacy (in-place)")(g => s"g$g")}" +
      s"  live root: ${r.liveRoot}\n"
    if (r.retiredGens.nonEmpty)
      sb ++= s"  retired GC-grace generations on disk: " +
        s"${r.retiredGens.map(g => s"g$g").mkString(", ")}\n"
    if (r.legacyGraceDirs.nonEmpty)
      sb ++= s"  legacy top-level tables kept as GC grace (deleted at " +
        s"the next cutover): ${r.legacyGraceDirs.mkString(", ")}\n"
    if (r.stagingGens.nonEmpty)
      sb ++= s"  crashed-compact staging trees (inert; cleared by the " +
        s"next compact): ${r.stagingGens.map(g => s"g$g").mkString(", ")}\n"
    sb ++= s"  tables (${r.tables.size}):\n"
    r.tables.foreach { t =>
      sb ++= f"    ${t.name}%-12s ${t.files}%6d files ${t.bytes}%12d bytes\n"
    }
    if (r.leases.isEmpty) sb ++= "  leases: none\n"
    else {
      sb ++= s"  leases (ttl ${fmtAge(r.leaseTtlMs)}):\n"
      r.leases.foreach { case (n, age, expired) =>
        val state = if (expired) "EXPIRED (next acquirer reclaims)" else "live"
        sb ++= s"    $n  heartbeat ${fmtAge(age)} ago  $state\n"
      }
    }
    if (r.pendingRemovals.nonEmpty) {
      // rmstate dirs carry the rm. namespace — and `ap.` entries for
      // crashed APPEND commits (every family's idempotent meta commit;
      // one whose merge is recorded is done and not listed, see
      // Fingerprint.pendingRemovals). The tag the operator must pass back
      // is the BARE one — printing rm.t9 with "re-run with this tag"
      // would have them call remove(tag="rm.t9"), a new removal the
      // pending guard refuses — and the replay verb differs by kind.
      // A pending removal with a FRESH rmstate heartbeat is not crashed
      // at all: its lease-free half is running right now (r17).
      if (r.inflightRemovals.nonEmpty)
        sb ++= s"  IN-FLIGHT removals (healthy lease-free half, heartbeat " +
          s"fresh — concurrent maintenance waits/retries; no action): " +
          s"${r.inflightRemovals.map(_.stripPrefix("rm.")).toSeq.sorted.mkString(", ")}\n"
      val crashed = r.pendingRemovals -- r.inflightRemovals
      val (aps, rms) = crashed.partition(_.startsWith("ap."))
      if (rms.nonEmpty)
        sb ++= s"  CRASHED removals (replay each: call remove() with its " +
          s"ORIGINAL victims and tag): " +
          s"${rms.map(_.stripPrefix("rm.")).toSeq.sorted.mkString(", ")}\n"
      if (aps.nonEmpty)
        sb ++= s"  CRASHED append commits (replay each: call append() " +
          s"with its ORIGINAL delta and tag): " +
          s"${aps.map(_.stripPrefix("ap.")).toSeq.sorted.mkString(", ")}\n"
    }
    sb ++= s"  recorded append merges: ${r.appendTags.size}" +
      s"  removal merges: ${r.removalTags.size}" +
      s"  applied stream markers: ${r.appliedMarkers.size}\n"
    if (r.unmarkeredRecordedTags.nonEmpty)
      sb ++= s"  stream batches recorded but UNMARKERED (replay no-ops " +
        s"to the marker; drain before pruning tombstones): " +
        s"${r.unmarkeredRecordedTags.mkString(", ")}\n"
    if (r.tombstones.nonEmpty) {
      sb ++= s"  RTBF tombstone batches (${r.tombstones.size}):\n"
      r.tombstones.foreach { case (n, age) =>
        sb ++= s"    $n  age ${fmtAge(age)}\n"
      }
    }
    if (r.logicalDeletes.nonEmpty)
      sb ++= s"  LOGICAL deletions pending reclaim (probes already blind; " +
        s"compact() reclaims the rows): ${r.logicalDeletes.mkString(", ")}\n"
    if (r.recallProbes.nonEmpty) {
      val tail = r.recallProbes.takeRight(5)
      sb ++= s"  append self-recall probes (last ${tail.size} of " +
        s"${r.recallProbes.size}): " +
        tail.map { case (t, v) => f"$t=$v%.2f" }.mkString(", ") + "\n"
    }
    sb ++= s"  source-status fast-path record: " +
      s"${if (r.sourceStatusPresent) "present" else "absent"}\n"
    sb ++= s"  last clean IndexCheck: " +
      s"${r.lastFsckAgeMs.fold("never recorded")(a => s"${fmtAge(a)} ago")}\n"
    sb.result()
  }

  /** Read-only maintenance recommendations — the README cadence table
    * as code, derived purely from a [[Report]] so the rules are
    * spec-testable without a filesystem. Nothing here mutates; every
    * line names the guarded verb the operator would run.
    * `deletionSlaMs`: how long a logical deletion may pend before the
    * unreclaimed bytes violate your RTBF window (compact() is the
    * reclaim verb; probes are blind from the logicalRemove itself).
    * `retrainRecallFloor`: the self-recall (see
    * [[operators.VectorIndex.selfRecall]]) below which the trailing
    * append's drift reading recommends retrain() — the r15 close of the
    * one cadence verb advise() previously could not see. */
  def advise(r: Report, deletionSlaMs: Long = 24L * 3600 * 1000L,
             retrainRecallFloor: Double = 0.8): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (r.inflightRemovals.nonEmpty)
      out += "in-flight removal(s) " +
        r.inflightRemovals.map(_.stripPrefix("rm.")).toSeq.sorted.mkString(", ") +
        " — a lease-free half is running (heartbeat fresh); concurrent " +
        "maintenance waits briefly and retries, nothing to do"
    if ((r.pendingRemovals -- r.inflightRemovals).nonEmpty) {
      val (aps, rms) =
        (r.pendingRemovals -- r.inflightRemovals).partition(_.startsWith("ap."))
      if (rms.nonEmpty)
        out += "BLOCKING: crashed removal(s) " +
          rms.map(_.stripPrefix("rm.")).toSeq.sorted.mkString(", ") +
          " — re-run each with its ORIGINAL victims and tag; new removals " +
          "and compact() refuse until these replay to completion"
      if (aps.nonEmpty)
        out += "BLOCKING: crashed append commit(s) " +
          aps.map(_.stripPrefix("ap.")).toSeq.sorted.mkString(", ") +
          " — re-run each append with its ORIGINAL delta and tag; " +
          "removals and rebuilds refuse until these replay to completion"
    }
    if (r.logicalDeleteAges.nonEmpty && r.pendingRemovals.isEmpty) {
      val oldest = r.logicalDeleteAges.map(_._2).max
      val n = r.logicalDeleteAges.size
      if (oldest >= deletionSlaMs)
        out += s"compact() OVERDUE: $n logical-deletion batch(es) pending, " +
          s"oldest ${fmtAge(oldest)} exceeds the ${fmtAge(deletionSlaMs)} " +
          "deletion SLA — reclaim now"
      else
        out += s"compact() recommended within ${fmtAge(deletionSlaMs - oldest)}: " +
          s"$n logical-deletion batch(es) pending (oldest ${fmtAge(oldest)}); " +
          "probes are already blind, the reclaim bounds the deletion SLA"
    }
    if (r.tombstones.nonEmpty) {
      if (r.unmarkeredRecordedTags.nonEmpty)
        out += "do NOT pruneTombstones: recorded-but-unmarkered stream " +
          s"batch(es) ${r.unmarkeredRecordedTags.toSeq.sorted.mkString(", ")} " +
          "have not drained — the tombstones are what keep their replays " +
          "from resurrecting removed rows"
      else
        out += s"pruneTombstones eligible: ${r.tombstones.size} batch(es), " +
          s"oldest ${fmtAge(r.tombstones.map(_._2).max)}; safe once every " +
          "stream sharing the index has restarted+drained (no unmarkered " +
          "batches are visible)"
    }
    if (r.retiredGens.nonEmpty || r.legacyGraceDirs.nonEmpty) {
      val what = (r.retiredGens.map(g => s"g$g") ++ r.legacyGraceDirs)
        .mkString(", ")
      if (r.pendingRemovals.nonEmpty)
        out += s"do NOT purgeRetired ($what): removal/append state is " +
          "pending — its replay may reference the retired roots"
      else
        out += s"purgeRetired eligible: $what — reclaimed automatically " +
          "at the next cutover, or now via --prune (requires a clean " +
          "IndexCheck within the SLA; runs under the remove lease)"
    }
    // retrain cadence: the TRAILING reading decides (build/retrain clear
    // the series, so a low value always describes the LIVE quantizer;
    // older low readings before a healthy newest one are history, not a
    // standing condition)
    r.recallProbes.lastOption.foreach { case (tag, rec) =>
      if (rec < retrainRecallFloor)
        out += f"retrain() recommended: append self-recall dropped to " +
          f"$rec%.2f on batch '$tag' (floor $retrainRecallFloor%.2f) — the " +
          "frozen quantizer no longer fits the arriving distribution"
    }
    r.leases.filter(_._3).foreach { case (n, age, _) =>
      out += s"lease $n EXPIRED (${fmtAge(age)} since heartbeat): the next " +
        "acquirer reclaims it automatically — no action needed"
    }
    if (!r.sourceStatusPresent)
      out += "freshness fast-path record absent: isFresh/ensure fall back " +
        "to the content-hash scan (correct, slower); the next build() " +
        "re-arms it"
    // fsck cadence (r16): the data-plane audit exists, so the console
    // must RECOMMEND it — post-compact/post-remove per the README
    // runbook, and never staler than the deletion SLA
    r.lastFsckAgeMs match {
      case None =>
        out += "IndexCheck has never recorded a clean audit here — run " +
          "`runMain graft.IndexCheck <dir>` (read-only) after each " +
          "maintenance pass (compaction, takedown) to baseline " +
          "data-plane integrity"
      case Some(age) if age >= deletionSlaMs =>
        out += s"IndexCheck STALE: last clean audit ${fmtAge(age)} ago " +
          s"exceeds the ${fmtAge(deletionSlaMs)} cadence — re-run the " +
          "fsck before trusting further maintenance on this index"
      case _ => ()
    }
    out.result()
  }

  /** Execute tombstone retention (VERDICT r16 item 6) — the console's
    * ONE mutating verb, and only because every gate it applies is the
    * advise() rule set itself, checked against a fresh [[Report]]
    * moments before the delete:
    *
    *  - recorded-but-unmarkered stream batches ⇒ REFUSE (the tombstones
    *    are what keep those replays from resurrecting removed rows);
    *  - crashed removal/append state pending ⇒ REFUSE (its replay may
    *    still need the tombstone as its resurrection guard; in-flight
    *    heartbeat-fresh state refuses too — just retry after it clears);
    *  - no CLEAN IndexCheck within the deletion SLA ⇒ REFUSE (don't
    *    loosen replay guards on an unaudited index);
    *  - otherwise prune batches older than the SLA (the operational
    *    replay horizon — every stream sharing the index must have
    *    restarted+drained within it, which the unmarkered check pins).
    *
    * Returns Left(reason) on refusal — the reason IS the advise line an
    * operator would have read — or Right(prunedCount). */
  def prune(conf: Configuration, dir: String,
            deletionSlaMs: Long): Either[String, Int] = {
    val r = report(conf, dir)
    if (r.unmarkeredRecordedTags.nonEmpty)
      Left("recorded-but-unmarkered stream batch(es) " +
        s"${r.unmarkeredRecordedTags.toSeq.sorted.mkString(", ")} have not " +
        "drained — the tombstones are what keep their replays from " +
        "resurrecting removed rows")
    else if (r.pendingRemovals.nonEmpty)
      Left(s"removal/append state ${r.pendingRemovals.toSeq.sorted.mkString(", ")} " +
        "is pending (crashed or in-flight) — let it replay/finish first")
    else if (!r.lastFsckAgeMs.exists(_ < deletionSlaMs))
      Left("no clean IndexCheck within the " +
        s"${fmtAge(deletionSlaMs)} cadence (" +
        r.lastFsckAgeMs.fold("never recorded")(a => s"last ${fmtAge(a)} ago") +
        ") — run `runMain graft.IndexCheck " + dir + "` first; pruning " +
        "replay guards on an unaudited index is how silent resurrection " +
        "starts")
    else if (r.tombstones.isEmpty) Right(0)
    else {
      // TOCTOU re-check (ADVICE r17): the gates above ran on a Report
      // snapshot; a stream batch recording new tombstone-relevant state
      // or a removal beginning between that snapshot and the delete
      // would be unprotected. Re-read the two MUTATING-state gates
      // immediately before the delete — cheap (two directory listings)
      // and it shrinks the unprotected window to the FS-atomic delete
      // itself, which an operator quiesce covers (see --prune help).
      val r2 = report(conf, dir)
      if (r2.unmarkeredRecordedTags.nonEmpty)
        Left("recorded-but-unmarkered stream batch(es) " +
          s"${r2.unmarkeredRecordedTags.toSeq.sorted.mkString(", ")} " +
          "appeared while preparing the prune — a stream is actively " +
          "replaying; let it drain and re-run")
      else if (r2.pendingRemovals.nonEmpty)
        Left(s"removal/append state ${r2.pendingRemovals.toSeq.sorted.mkString(", ")} " +
          "began while preparing the prune — let it finish first")
      else Right(graft.streaming.S4Stream.pruneTombstones(conf, dir,
        deletionSlaMs))
    }
  }

  /** Reclaim RETIRED generation artifacts (VERDICT r17 item 6 — the
    * second artifact class `--prune` sweeps): the GC-grace generation
    * dirs and legacy top-level grace tables that
    * [[graft.operators.IndexMaintenance.finishCompact]] keeps one
    * cutover for in-flight lease-free readers, and that each family's
    * own maintenance otherwise reclaims only at its NEXT cutover.
    * Advise-gated like the tombstone sweep:
    *
    *  - crashed/in-flight removal or append state pending ⇒ REFUSE
    *    (its replay runs against recorded roots — don't pull trees out
    *    from under it);
    *  - no CLEAN IndexCheck within the SLA ⇒ REFUSE (the retired copy
    *    is also the only rollback the index has — never delete it
    *    without a fresh audit of the LIVE generation);
    *  - otherwise purge UNDER THE EXCLUSIVE REMOVE LEASE — the same
    *    quiesce point the remove() family uses when it drops grace
    *    copies; a concurrently-held lease surfaces as the retryable
    *    refusal instead of a racing delete.
    *
    * Returns Left(reason) or Right(artifacts deleted). */
  def pruneRetired(conf: Configuration, dir0: String,
                   deletionSlaMs: Long): Either[String, Int] = {
    val dir = IndexMaintenance.normalize(dir0)
    val r = report(conf, dir)
    if (r.pendingRemovals.nonEmpty)
      Left(s"removal/append state ${r.pendingRemovals.toSeq.sorted.mkString(", ")} " +
        "is pending (crashed or in-flight) — its replay may reference the " +
        "retired roots; let it finish first")
    else if (r.retiredGens.isEmpty && r.legacyGraceDirs.isEmpty) Right(0)
    else if (!r.lastFsckAgeMs.exists(_ < deletionSlaMs))
      Left("no clean IndexCheck within the " +
        s"${fmtAge(deletionSlaMs)} cadence (" +
        r.lastFsckAgeMs.fold("never recorded")(a => s"last ${fmtAge(a)} ago") +
        ") — the retired generation is the index's only rollback; audit " +
        "the live generation before deleting it")
    else
      try IndexMaintenance.withLease(conf, dir, "remove") {
        // TOCTOU re-check under the lease (same rule as the tombstone
        // sweep): a removal that began between the report and the lease
        // acquire must refuse, not race the delete
        val r2 = report(conf, dir)
        if (r2.pendingRemovals.nonEmpty)
          Left(s"removal/append state ${r2.pendingRemovals.toSeq.sorted.mkString(", ")} " +
            "began while preparing the prune — let it finish first")
        else {
          IndexMaintenance.purgeRetired(conf, dir, r2.legacyGraceDirs)
          Right(r2.retiredGens.size + r2.legacyGraceDirs.size)
        }
      } catch {
        case e: IndexMaintenance.LeaseConflictException =>
          Left(s"the index's remove lease is held — ${e.getMessage}; " +
            "retry after the holder finishes")
      }
  }

  def main(args: Array[String]): Unit = {
    val (flags, dirs) = args.partition(_.startsWith("--"))
    require(dirs.nonEmpty,
      "usage: runMain graft.IndexAdmin [--advise] [--prune] <indexDir> [<indexDir>...]")
    val unknown = flags.filterNot(f => f == "--advise" || f == "--prune")
    require(unknown.isEmpty, s"unknown flag(s): ${unknown.mkString(", ")}")
    val doAdvise = flags.contains("--advise")
    val doPrune = flags.contains("--prune")
    // deletion-SLA / recall-floor overrides for the advise rules
    val sla = sys.props.get("graft.admin.deletionSlaMs").map(_.toLong)
      .getOrElse(24L * 3600 * 1000L)
    val floor = sys.props.get("graft.admin.retrainRecallFloor")
      .map(_.toDouble).getOrElse(0.8)
    val conf = new Configuration()
    dirs.foreach { dir =>
      // a LAKE dir carrying purge manifests renders those instead of the
      // index report: the console must NAME what an interrupted
      // multi-store purge still owes (VERDICT r17 item 1)
      val purges = graft.operators.Rtbf.status(conf, dir)
      if (purges.nonEmpty) {
        println(s"RTBF purges under $dir:")
        purges.foreach { p =>
          val state =
            if (p.complete) "COMPLETE"
            else s"INCOMPLETE — still owes ${p.incomplete.mkString(", ")} " +
              "(resume with Rtbf.resume under the same tag; the resume " +
              s"replays the planned ${p.mode} mode" +
              (if (p.mode == "physical")
                 " — index verbs hold exclusive leases for the rewrite"
               else " — ~2 s overlay writes, reclaim at compact") + ")"
          println(s"  ${p.tag} [${p.mode}]: ${p.done.size}/${p.planned.size} " +
            s"stores done — $state")
        }
      }
      val r = report(conf, dir)
      print(render(r))
      if (doAdvise) {
        val a = advise(r, sla, floor)
        if (a.isEmpty) println("  advise: all clear — no maintenance indicated")
        else a.foreach(l => println(s"  advise: $l"))
      }
      if (doPrune) {
        prune(conf, dir, sla) match {
          case Left(reason) => println(s"  prune: REFUSED — $reason")
          case Right(n) => println(s"  prune: removed $n tombstone batch(es) " +
            s"older than ${fmtAge(sla)}")
        }
        pruneRetired(conf, dir, sla) match {
          case Left(reason) =>
            println(s"  prune[retired]: REFUSED — $reason")
          case Right(n) =>
            println(s"  prune[retired]: removed $n retired-generation " +
              "artifact(s) (GC-grace dirs + legacy grace tables)")
        }
      }
    }
  }
}
