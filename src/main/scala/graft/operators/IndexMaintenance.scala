package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Shared lifecycle mechanics of the persisted indexes ([[ClusterIndex]],
  * [[TextIndex]], [[TermIndex]], [[VectorIndex]]): generation-pointer
  * layout, compaction cutover ([[foldCompact]]), the append and removal
  * envelopes ([[append]], [[removal]]), the freshness check
  * ([[isFresh]]), and the write/compact lease that makes racing
  * maintenance fail loudly instead of silently losing rows.
  *
  * == Generation layout ==
  *
  * An index directory has ONE live data root at a time:
  *
  *  - legacy / freshly built: tables directly under `<dir>/` (no pointer)
  *  - after a compaction: tables under `<dir>/g<N>/`, with the one-line
  *    pointer file `<dir>/GEN` naming the live generation `N`
  *
  * [[liveRoot]] resolves a directory to its current data root; every
  * index read and write goes through it. Compaction writes the folded
  * tables into the NEXT generation directory and then flips the pointer
  * with a single small-file write — no directory rename anywhere. On an
  * object store (the deployment north star) a directory rename is a
  * non-atomic O(data) copy+delete, so the previous two-rename swap had a
  * window where the index was absent or half-copied; under the pointer a
  * reader always resolves to a COMPLETE tree: the old generation until
  * the flip, the new one after it. The pointer write itself is a
  * single-object PUT — atomic on object stores; on local/HDFS a reader
  * could glimpse a truncated file, so [[currentGen]] retries briefly
  * before failing loudly (it never silently falls back to the legacy
  * root: a wrong root would serve wrong answers, not an error).
  *
  * Replay/bookkeeping state is NOT generational — `applied/` batch
  * markers, `tagfp/` merge records, the `srcstat` freshness record and
  * `lease/` all live at the top level of `<dir>` and survive cutovers
  * untouched (compaction used to copy them between trees; now nothing
  * moves).
  *
  * == Leases (quiesce enforcement) ==
  *
  * The compaction contract requires a quiesced index. Instead of
  * trusting callers, writers and compactors take LEASES under
  * `<dir>/lease/`: every build/append holds a `write_*` lease for its
  * duration, compact holds a `compact_*` lease. Acquisition creates the
  * own lease FIRST, then checks for conflicts (write conflicts with
  * compact; compact conflicts with everything) — so two racing
  * operations can both abort but can never both proceed. Holders renew
  * their lease at ttl/3 (daemon heartbeat); a crashed holder's lease
  * self-EXPIRES after [[leaseTtlMs]] and the next acquirer clears it —
  * no human runbook needed ([[breakLeases]] remains the force override).
  * A holder that stalled past the TTL and lost its lease is FENCED: its
  * heartbeat notices the reclaim and its completion fails loudly
  * instead of reporting success for writes that may have interleaved
  * with the new holder's. This is a single-writer coordination aid, not
  * a distributed lock manager — it turns the silent-data-loss race into
  * a loud, actionable error.
  */
private[graft] object IndexMaintenance {

  /** Trailing slashes would make derived paths (`<dir>/GEN`,
    * `<dir>/g<N>`) resolve inconsistently between writers and readers. */
  def normalize(indexDir: String): String = indexDir.replaceAll("/+$", "")

  // ---- generation pointer ------------------------------------------------

  private def genPath(indexDir: String) = new Path(s"$indexDir/GEN")

  private def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The live generation number, or None for the legacy in-place layout
    * (tables directly under `indexDir`). Retries a briefly-unreadable
    * pointer (local-FS create-truncate window) and then FAILS — never
    * guesses a root. */
  def currentGen(conf: Configuration, indexDir0: String): Option[Long] = {
    val indexDir = normalize(indexDir0)
    val p = genPath(indexDir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      var attempt = 0
      var txt = readSmallFile(fs, p).trim
      while (!txt.matches("[0-9]+") && attempt < 5) {
        attempt += 1
        Thread.sleep(50L * attempt)
        txt = readSmallFile(fs, p).trim
      }
      if (!txt.matches("[0-9]+"))
        throw new IllegalStateException(
          s"unreadable generation pointer at $p (content: '$txt') — the " +
            "index has a pointer file but no parseable generation; refusing " +
            "to guess a data root")
      Some(txt.toLong)
    }
  }

  /** Resolve an index directory to its current data root — `<dir>` for
    * the legacy layout, `<dir>/g<N>` after a compaction cutover. Every
    * table read and write in the index families goes through this. */
  def liveRoot(conf: Configuration, indexDir0: String): String = {
    val indexDir = normalize(indexDir0)
    currentGen(conf, indexDir).fold(indexDir)(g => s"$indexDir/g$g")
  }

  private def writeGen(conf: Configuration, indexDir: String, gen: Long): Unit = {
    val p = genPath(indexDir)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true) // single small object: PUT-atomic on stores
    try out.write(gen.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // ---- leases ------------------------------------------------------------

  private def leaseDir(indexDir: String) = new Path(s"$indexDir/lease")

  private def listLeases(fs: FileSystem, indexDir: String): Seq[String] = {
    val d = leaseDir(indexDir)
    if (!fs.exists(d)) Seq.empty else fs.listStatus(d).map(_.getPath.getName).toSeq
  }

  /** Lease TTL (ms): a lease whose heartbeat is older than this is
    * EXPIRED — a new acquirer clears it and proceeds, turning crashed-
    * holder recovery from a human runbook (breakLeases) into an
    * invariant (VERDICT r11 item 3). Holders renew at ttl/3 via a
    * daemon heartbeat, so a LIVE holder is never expired unless the
    * process is stalled for a full TTL — and a stalled-then-revived
    * holder is FENCED: its renewal discovers the stolen lease and its
    * commit fails loudly ([[withLease]]/[[finishCompact]]). */
  def leaseTtlMs: Long =
    sys.props.get("graft.lease.ttlMs").map(_.toLong).getOrElse(600000L)
  private def heartbeatMs: Long =
    sys.props.get("graft.lease.hbMs").map(_.toLong)
      .getOrElse(math.max(1L, leaseTtlMs / 3))

  /** Renewal = rewriting the lease file; the HEARTBEAT AUTHORITY is the
    * file's mtime, not its content — readers never parse bytes a
    * concurrent rewrite could truncate mid-read (the content is a
    * human-facing hint only). Fencing needs no token either: lease
    * filenames are uuid-unique, so "my file still exists" is exactly
    * "nobody reclaimed my lease". */
  private def writeLeaseFile(fs: FileSystem, p: Path): Unit = {
    val out = fs.create(p, true)
    try out.write(s"hb=${System.currentTimeMillis()}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Heartbeat millis of a lease file (mtime); None when gone. */
  private def leaseHeartbeat(fs: FileSystem, p: Path): Option[Long] =
    try Some(fs.getFileStatus(p).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** Take a lease of `kind` on the index. Own lease is created FIRST,
    * conflicts checked second — two racers can both abort, never both
    * proceed. Throws (and removes its own lease) on conflict. A
    * conflicting lease whose heartbeat exceeds [[leaseTtlMs]] is a
    * crashed holder's leftover: it is deleted and ignored.
    *
    * Kinds and their conflict rules:
    *  - `write` (build/append): tag-scoped writers never touch each
    *    other's partitions, so write+write is allowed; conflicts with
    *    `compact`, `remove`, and `xwrite`.
    *  - `xwrite` (build/append on a family whose META is read-modify-
    *    written from query-serving state — [[TermIndex]]'s (n_rows,
    *    sum_dl) since r16): EXCLUSIVE among writers too. Two concurrent
    *    tag-scoped appends never touch each other's PARTITIONS, but both
    *    read meta at entry and commit merge(entry-meta, own-delta) — the
    *    later commit silently drops the earlier delta's stats, and for a
    *    stats-serving family that is silent mis-scoring, not just a
    *    spurious rebuild (ADVICE r16). Conflicts with everything.
    *  - `remove` (targeted delete): EXCLUSIVE — a removal rewrites
    *    OTHER generations' partitions (its read-then-overwrite would
    *    silently wipe rows a concurrent append lands between the read
    *    and the write; review-caught), so it conflicts with everything.
    *  - `compact`: EXCLUSIVE — retires the whole generation. */
  def acquireLease(conf: Configuration, indexDir0: String, kind: String): Path = {
    require(kind == "write" || kind == "compact" || kind == "remove" ||
      kind == "xwrite",
      s"unknown lease kind $kind")
    val indexDir = normalize(indexDir0)
    val own = new Path(leaseDir(indexDir),
      s"${kind}_${java.util.UUID.randomUUID().toString.take(12)}")
    val fs = own.getFileSystem(conf)
    writeLeaseFile(fs, own)
    val deadline = System.currentTimeMillis() - leaseTtlMs
    val all = listLeases(fs, indexDir)
    // GC reclaim markers whose lease is gone and which are older than a
    // TTL themselves (the reclaimer's session ended; nothing can race)
    all.filter(_.endsWith(".reclaimed")).foreach { m =>
      val mp = new Path(leaseDir(indexDir), m)
      if (!all.contains(m.stripSuffix(".reclaimed")) &&
          leaseHeartbeat(fs, mp).forall(_ < deadline))
        fs.delete(mp, false)
    }
    val conflicts = all
      .filterNot(_.endsWith(".reclaimed"))
      .filterNot(_ == own.getName)
      .filter(other => kind != "write" ||
        other.startsWith("compact") || other.startsWith("remove") ||
        other.startsWith("xwrite"))
      .filterNot { other =>
        // expired => the holder crashed (a live one renews at ttl/3):
        // mark-then-delete. The MARKER makes the reclaim visible to a
        // stalled-but-alive holder whose renew races this delete (the
        // exists-then-rewrite in renew could otherwise resurrect the
        // file and dodge the fence): renew checks the marker first, and
        // the marker is written before the delete, so by the time the
        // holder's commit-point renew runs it either sees the marker or
        // the missing file — fenced either way.
        val p = new Path(leaseDir(indexDir), other)
        val marker = new Path(leaseDir(indexDir), other + ".reclaimed")
        val alreadyReclaimed = all.contains(marker.getName)
        val expired = alreadyReclaimed ||
          leaseHeartbeat(fs, p).forall(_ < deadline)
        if (expired) {
          if (!alreadyReclaimed) fs.create(marker, true).close()
          fs.delete(p, false)
        }
        expired
      }
    if (conflicts.nonEmpty) {
      fs.delete(own, false)
      throw new LeaseConflictException(
        s"$kind on $indexDir refused: in-flight maintenance holds lease(s) " +
          s"${conflicts.mkString(", ")} under $indexDir/lease/. If the " +
          s"holder crashed, its lease self-expires after ${leaseTtlMs}ms; " +
          "to force, clear stale leases (IndexMaintenance.breakLeases)")
    }
    own
  }

  /** Refused at ACQUIRE — nothing ran yet; a caller that staged
    * compensating state for the operation (rtbfPurgeStream's
    * tombstones) can safely roll it back on this type, unlike the
    * post-body fencing failure which shares the IllegalStateException
    * parent. */
  final class LeaseConflictException(msg: String)
    extends IllegalStateException(msg)

  def releaseLease(conf: Configuration, lease: Path): Unit = {
    val fs = lease.getFileSystem(conf)
    fs.delete(lease, false)
  }

  /** Read-only lease listing for ops tooling ([[graft.IndexAdmin]]):
    * `(name, heartbeat-age ms, expired)` per live lease file. Expiry is
    * judged by the same rules acquirers use — mtime-vs-TTL, OR a
    * surviving `<name>.reclaimed` marker (a stalled holder's in-flight
    * renew can resurrect a just-reclaimed file with a fresh mtime; the
    * acquirer's alreadyReclaimed branch still treats it as dead, so
    * this listing must too). "expired=true" means the next acquirer
    * WILL clear it. Purely observational — nothing is deleted. */
  def leaseStatus(conf: Configuration,
                  indexDir0: String): Seq[(String, Long, Boolean)] = {
    val indexDir = normalize(indexDir0)
    val fs = new Path(indexDir).getFileSystem(conf)
    val now = System.currentTimeMillis()
    val names = listLeases(fs, indexDir)
    val reclaimed = names.filter(_.endsWith(".reclaimed"))
      .map(_.stripSuffix(".reclaimed")).toSet
    names
      .filterNot(_.endsWith(".reclaimed"))
      .flatMap { n =>
        leaseHeartbeat(fs, new Path(s"$indexDir/lease/$n")).map { hb =>
          val age = math.max(0L, now - hb)
          (n, age, age > leaseTtlMs || reclaimed(n))
        }
      }
  }

  /** A running lease heartbeat: renews the lease file at ttl/3 and trips
    * `fenced` the moment the file is gone (a new acquirer reclaimed it
    * after expiry — filenames are uuid-unique, so existence is
    * ownership). */
  final class LeaseBeat private[IndexMaintenance] (
      fs: FileSystem, lease: Path) {
    @volatile private[IndexMaintenance] var fenced = false
    private val task: java.util.concurrent.ScheduledFuture[_] =
      IndexMaintenance.heartbeatPool.scheduleAtFixedRate(
        () => renew(), heartbeatMs, heartbeatMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
    /** Check-then-touch; also callable synchronously at a commit point.
      * Fences only on OBSERVED loss (reclaim marker present, or file
      * gone — the acquirer writes the marker BEFORE deleting, closing
      * the race where this rewrite resurrects a just-reclaimed file).
      * A transient probe failure skips the beat instead of latching a
      * false fence that would abort hours of compaction: a truly dead
      * heartbeat still expires the lease, whose reclaim the next
      * successful renew — including assertHeld's synchronous one at
      * the commit point — then observes. The catch also keeps the
      * scheduled task alive (scheduleAtFixedRate suppresses later runs
      * after an uncaught exception). Suppressed failures are LOGGED
      * (rate-limited to one line per TTL) so a permanently failing
      * heartbeat — persistent FS misconfiguration — is visible long
      * before the lease silently expires under a live holder; only
      * NonFatal errors are swallowed, so interrupts and fatal JVM
      * errors propagate to the scheduler instead of beating on. */
    @volatile private var lastRenewWarnMs = 0L
    private[IndexMaintenance] def renew(): Unit = synchronized {
      if (!fenced) {
        try renewOnce()
        catch {
          case scala.util.control.NonFatal(e) =>
            val now = System.currentTimeMillis()
            if (now - lastRenewWarnMs >= leaseTtlMs) {
              lastRenewWarnMs = now
              System.err.println(s"[lease] heartbeat renew failed for " +
                s"$lease (beat skipped; lease expires in <= ${leaseTtlMs}ms " +
                s"without a successful renew): ${e.getClass.getName}: " +
                s"${e.getMessage}")
            }
        }
      }
    }
    /** One probe+touch, errors propagated (assertHeld's strict path). */
    private[IndexMaintenance] def renewOnce(): Unit = synchronized {
      if (!fenced) {
        val marker = new Path(lease.getParent, lease.getName + ".reclaimed")
        if (fs.exists(marker) || !fs.exists(lease)) fenced = true
        else writeLeaseFile(fs, lease)
      }
    }
    /** Loud fencing check for the holder's commit point. Unlike the
      * background beats, this probe is STRICT: a filesystem error here
      * must not silently pass the commit (the "stale holder never
      * reports success" invariant) — it retries twice, then surfaces
      * the probe failure itself. */
    private[IndexMaintenance] def assertHeld(what: String): Unit = {
      var probeErr: Throwable = null
      var ok = false
      var attempts = 0
      while (!ok && !fenced && attempts < 3) {
        attempts += 1
        try { renewOnce(); ok = true }
        catch { case t: Throwable => probeErr = t; Thread.sleep(50L * attempts) }
      }
      if (!ok && !fenced) throw new IllegalStateException(
        s"$what: could not verify lease $lease at the commit point " +
          "(filesystem probe kept failing) — refusing to report success " +
          "unverified", probeErr)
      if (fenced) throw new IllegalStateException(
        s"$what: this holder's lease $lease expired and was reclaimed by " +
          "another maintenance operation (stalled past the " +
          s"${leaseTtlMs}ms TTL) — its writes may interleave with the new " +
          "holder's; verify the index (ensure()/isFresh) before serving")
    }
    private[IndexMaintenance] def stop(): Unit = task.cancel(false)
  }

  private lazy val heartbeatPool = {
    // several threads: concurrent holders on DIFFERENT indexes renew
    // independently, and one hung filesystem call must not starve the
    // other holders' beats past the TTL
    val p = new java.util.concurrent.ScheduledThreadPoolExecutor(4, (r: Runnable) => {
      val t = new Thread(r, "graft-lease-heartbeat"); t.setDaemon(true); t
    })
    p.setRemoveOnCancelPolicy(true)
    p
  }

  /** Start the renewal heartbeat for an acquired lease. */
  private def startBeat(conf: Configuration, lease: Path): LeaseBeat =
    new LeaseBeat(lease.getFileSystem(conf), lease)

  /** Schedule a recurring beat on the shared heartbeat pool — the
    * lease-free removal halves' in-flight markers ride the same
    * renewal cadence as lease files ([[Fingerprint.withInflightBeat]]). */
  private[operators] def scheduleBeat(run: Runnable)
      : java.util.concurrent.ScheduledFuture[_] =
    heartbeatPool.scheduleAtFixedRate(run, heartbeatMs, heartbeatMs,
      java.util.concurrent.TimeUnit.MILLISECONDS)

  /** Run independent, idempotent maintenance legs CONCURRENTLY,
    * surfacing the first failure only after every sibling leg settles —
    * a mid-leg crash (injected or real) must never leave another leg's
    * Spark jobs racing the caller's next move (a replaying remove, a
    * test assertion). Each leg carries its [[FaultInjection]] step id,
    * fired after the leg's work; the replay contract is the caller's:
    * every leg must converge from any completed subset. */
  private[graft] def runLegs(legs: Seq[(String, () => Unit)]): Unit = {
    parallel(legs.map { case (step, run) => () =>
      // label the leg's jobs (guide §1.5; thread-local, so each
      // concurrent leg names its own jobs in the UI / profilers),
      // and put back the label the thread inherited, even on a throw
      val sc = SparkSession.active.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(step)
      try { run(); FaultInjection.maybeCrash(step) }
      finally sc.setLocalProperty("spark.job.description", prev)
    })
    ()
  }

  /** Run `tasks` concurrently on a pool made for this call (at most
    * `threads` at once) and return their values in order once every
    * task settles ([[settleAll]]). A per-call pool's threads are born
    * inside the caller's open phase, so each task records into the
    * caller's recorder ([[graft.Phases]]). */
  private[graft] def parallel[T](tasks: Seq[() => T],
                                 threads: Int = Int.MaxValue): Seq[T] =
    if (tasks.isEmpty) Nil
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, tasks.size))
      try settleAll(tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() })))
      finally pool.shutdown()
    }

  /** Wait for EVERY future, then return their values in order — or
    * rethrow the first failure (in `fs` order) with the later ones
    * added as suppressed. A failure surfaces as the task's own
    * exception, not the [[java.util.concurrent.ExecutionException]]
    * wrapping it; a wrapper without a cause surfaces as itself. No
    * sibling is left running unobserved when the caller moves on. */
  private[graft] def settleAll[T](fs: Seq[java.util.concurrent.Future[_ <: T]]): Seq[T] = {
    val settled = fs.map(f => scala.util.Try[T](f.get()).recoverWith {
      case e: java.util.concurrent.ExecutionException =>
        scala.util.Failure(Option(e.getCause).getOrElse(e))
    })
    settled.collectFirst { case scala.util.Failure(t) => t }.foreach { first =>
      settled.foreach(_.failed.foreach(o => if (o ne first) first.addSuppressed(o)))
      throw first
    }
    settled.map(_.get)
  }

  /** The distinct rows of a driver-small `df` in ONE job and no shuffle:
    * each partition dedupes its own rows, the driver the rest — for the
    * bounded bucket lists the serve paths turn into partition filters,
    * where a `distinct()` exchange would cost a second job. */
  def distinctRows(df: DataFrame): Seq[Row] =
    df.rdd.mapPartitions(_.toSet.iterator).collect().distinct.toSeq

  /** The row count of `df` and the distinct values of its bounded
    * `bucket` column, in ONE job and no shuffle — a removal's victim
    * count and bucket list. */
  def countAndBuckets[T](df: DataFrame, bucket: Column): (Long, Seq[T]) = {
    val parts = df.select(bucket).rdd.mapPartitions { it =>
      val vs = it.map(_.get(0)).toSeq
      Iterator((vs.size.toLong, vs.distinct))
    }.collect()
    (parts.map(_._1).sum, parts.toSeq.flatMap(_._2).distinct.map(_.asInstanceOf[T]))
  }

  /** Operator escape hatch: clear ALL leases after independently
    * verifying no maintenance is actually running (a crashed holder
    * cannot clean up after itself). */
  def breakLeases(conf: Configuration, indexDir0: String): Unit = {
    val d = leaseDir(normalize(indexDir0))
    val fs = d.getFileSystem(conf)
    if (fs.exists(d)) fs.delete(d, true)
  }

  /** Run `body` under a heartbeat-renewed lease, releasing it on every
    * exit path. If the holder stalled past the TTL and another
    * operation reclaimed the lease, the completed body's SUCCESS is
    * refused (fencing): the exception tells the operator the two
    * holders' writes may have interleaved. The check runs after `body`
    * because these are filesystem-rewrite operations with no single
    * revocable commit call — what fencing buys is that a stale holder
    * can never REPORT success, so the condition is always surfaced. */
  def withLease[T](conf: Configuration, indexDir: String, kind: String)
                  (body: => T): T = {
    val lease = acquireLease(conf, indexDir, kind)
    val beat = startBeat(conf, lease)
    try {
      val r = body
      beat.assertHeld(s"$kind on ${normalize(indexDir)}")
      r
    } finally {
      beat.stop()
      releaseLease(conf, lease)
    }
  }

  // ---- removal envelope --------------------------------------------------

  /** One removal's victim rows, captured ONCE: their fingerprint over
    * `fpCols` and their distinct ids (`fpCols.head`) as a
    * [[TargetedDelete.Keys]], both from one Spark job
    * ([[TargetedDelete.Keys.capture]]). An RTBF purge captures each
    * victim snapshot once and hands the capture to every store it
    * scrubs ([[Rtbf]]); the removal verbs capture the rows they are
    * passed. */
  final class Victims private (val rows: DataFrame, val fpCols: Seq[String],
                               val fp: (Long, Long), val keys: TargetedDelete.Keys) {
    def idCol: String = fpCols.head
  }

  object Victims {
    def apply(rows: DataFrame, fpCols: Seq[String]): Victims = {
      val (fp, keys) = TargetedDelete.Keys.capture(rows, fpCols.head, fpCols)
      new Victims(rows, fpCols, fp, keys)
    }
  }

  /** What a removal verb's body works with: the normalized index dir,
    * the data root resolved under the lease, the removal's own tag
    * namespace (`rm.<tag>`), the victims' fingerprint, and whether this
    * (tag, victims) pair was already applied (a crash replay). */
  final class RemovalCtx private[IndexMaintenance] (
      val conf: Configuration, val indexDir: String, val root: String,
      val rmTag: String, val vfp: (Long, Long), val replay: Boolean,
      step: String, s: SparkSession) {
    /** The snapshot under `root` ([[IndexSnapshot]]). */
    lazy val snapshot: IndexSnapshot.Snapshot = IndexSnapshot.at(s, indexDir, root)
    /** The ONE meta row this removal reads; its fingerprint is the
      * pre-removal meta the commit subtracts from. */
    lazy val meta: Row = snapshot.meta
    /** The removal-commit record of this tag, read on first use. */
    lazy val removeState: Option[((Long, Long), Option[(Long, Long)])] =
      Fingerprint.readRemoveState(conf, indexDir, rmTag)
    /** Applied record and no pending removal state: the prior run of
      * this pair ran through its state cleanup (its last step), so meta,
      * record and rows all landed — and a compact() may since have
      * reclaimed its tombstone or re-admitted the ids. Re-running it
      * would re-hide or re-erase a legitimately re-ingested id (ADVICE
      * r13); [[removal]] no-ops it. */
    lazy val completedReplay: Boolean = replay && removeState.isEmpty
    /** Neither a replay of a recorded pair nor a crashed first attempt
      * of these victims (state pends for the same fingerprint, so its
      * rows may already be mutated): only then do the victim checks
      * read pristine tables. */
    lazy val firstAttempt: Boolean =
      !replay && !removeState.exists(_._1 == vfp)
    /** The logical verbs' row mutation: one tombstone batch under the
      * removal's tag — reads are blind to the victims from here on. */
    def tombstone(vids: DataFrame, idCol: String): Unit = {
      LogicalDelete.write(vids, idCol, indexDir, rmTag)
      FaultInjection.maybeCrash(s"$step.tombstone")
    }
  }

  /** A removal verb's part of the commit [[removal]] runs: `plan`
    * persists extra replay state beside the commit record, `rows` is the
    * row mutation (pruned delete legs or [[RemovalCtx.tombstone]]),
    * `writeMeta` is the family's meta row for a target fingerprint,
    * `retired` names the tables whose retired generations a physical
    * verb purges, and `holdState` leaves the state pending for a
    * lease-free tail that clears it (cluster logicalRemove's overlay). */
  final case class RemovalCommit(rows: () => Unit,
                                 writeMeta: ((Long, Long)) => Unit,
                                 plan: () => Unit = () => (),
                                 retired: Seq[String] = Nil,
                                 holdState: Boolean = false)

  /** The removal every index family's remove()/logicalRemove() shares,
    * in this fixed order:
    *
    *  1. [[Fingerprint.awaitInflightQuiesce]] — a polite wait for a
    *     healthy in-flight lease-free removal half. It runs BEFORE the
    *     lease (ADVICE r17): such a half re-acquires write/remove leases
    *     for its later windows, so waiting while holding one starves it
    *     into a false crashed verdict.
    *  2. the exclusive `remove` lease ([[withLease]]) — a removal
    *     rewrites other generations' partitions, so it races nothing.
    *  3. [[liveRoot]], resolved under the lease.
    *  4. the victims' fingerprint, from their capture ([[Victims]]).
    *  5. [[admitRemoval]]: the replay check, the refusal of a reused
    *     tag, and the refusal while another removal's state pends.
    *  6. a completed replay ([[RemovalCtx.completedReplay]]) is a no-op
    *     apart from `done`.
    *  7. `prepare` — the verb's own checks and victim set; it validates
    *     the victims only on [[RemovalCtx.firstAttempt]], and returns
    *     None when there is nothing to remove.
    *  8. the commit, ROWS FIRST for every family:
    *     a. [[Fingerprint.ensureRemoveState]] persists the pre-removal
    *        meta base and the target fingerprint, then `plan` its extra
    *        state; crash step `<step>.state`.
    *     b. `rows`, BEFORE the meta subtraction (ADVICE r16): readers
    *        stop seeing the victims here while meta still counts them,
    *        so a crash between b and c leaves the victims already
    *        invisible under victim-inclusive meta — the conservative
    *        direction: `isFresh(survivors)` reads false and TermIndex's
    *        `checkStats` refuses its slightly-stale N/avgdl loudly until
    *        the removal replays. The meta-first order had the opposite
    *        window: meta already survivor-exact (isFresh true, term
    *        stats served) while probes and topK still returned victims.
    *        The row steps are idempotent and replay from the state.
    *     c. the meta write, derived from the state under
    *        [[Fingerprint.resolveRemovalMeta]]'s interleaved-append rule
    *        (None: the subtraction already landed); crash `<step>.meta`.
    *     d. [[Fingerprint.recordMerge]] under `rm.<tag>`, the commit
    *        point (skipped on a replay); crash `<step>.record`.
    *     e. [[Fingerprint.clearSourceStatus]], [[purgeRetired]] over
    *        `retired` (retired generations hold the victims' rows too),
    *        and [[Fingerprint.clearRemoveState]] LAST — unless
    *        `holdState`, whose tail clears both.
    *  9. `done`, after the state cleanup or on a completed replay.
    * 10. the generation recheck. Behind the lease a compact cannot cut
    *     over, but a lease that expired under a stalled holder (or one
    *     broken by hand) can let one in; the recheck fails the call
    *     loudly instead of reporting a removal whose writes landed in a
    *     retired tree.
    *
    * ClusterIndex.remove spreads its work over three lease windows and
    * keeps its own staged commit ([[ClusterRemoval]]). */
  def removal(victims: Victims, indexDir0: String, tag: String,
              opName: String, step: String,
              done: RemovalCtx => Unit = _ => ())
             (prepare: RemovalCtx => Option[RemovalCommit]): Unit = {
    val s = victims.rows.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    val indexDir = normalize(indexDir0)
    val rmTag = s"rm.$tag"
    Fingerprint.awaitInflightQuiesce(conf, indexDir, rmTag)
    withLease(conf, indexDir, "remove") {
      val root = liveRoot(conf, indexDir)
      val vfp = victims.fp
      val replay = admitRemoval(conf, indexDir, tag, vfp, opName)
      val ctx = new RemovalCtx(conf, indexDir, root, rmTag, vfp, replay, step, s)
      if (ctx.completedReplay) done(ctx)
      else prepare(ctx).foreach { c =>
        val pre = fingerprintOf(ctx.meta)
        Fingerprint.ensureRemoveState(conf, indexDir, rmTag, vfp, replay, pre, opName)
        c.plan()
        FaultInjection.maybeCrash(s"$step.state")
        c.rows()
        Fingerprint.resolveRemovalMeta(conf, indexDir, rmTag, pre, opName)
          .foreach(c.writeMeta)
        FaultInjection.maybeCrash(s"$step.meta")
        if (!replay) Fingerprint.recordMerge(conf, indexDir, rmTag, vfp)
        FaultInjection.maybeCrash(s"$step.record")
        if (!c.holdState) {
          Fingerprint.clearSourceStatus(conf, indexDir)
          if (c.retired.nonEmpty) purgeRetired(conf, indexDir, c.retired)
          Fingerprint.clearRemoveState(conf, indexDir, rmTag)
          done(ctx)
        }
      }
      require(liveRoot(conf, indexDir) == root,
        s"$opName on $indexDir: index compacted during the removal — " +
          "re-run it after verifying no maintenance is racing")
    }
  }

  /** The in-lease admission checks of a removal ([[removal]] step 5;
    * ClusterIndex.remove's window A calls them directly). Returns
    * whether this (tag, victims) pair was already applied. Removals keep
    * their records under their own `rm.` namespace: an append and a
    * remove of the same delta under one tag are different operations,
    * and a shared record would make the remove read as a replay and
    * skip its fingerprint subtraction forever. */
  private[operators] def admitRemoval(conf: Configuration, indexDir: String,
                                      tag: String, vfp: (Long, Long),
                                      opName: String): Boolean = {
    val rmTag = s"rm.$tag"
    val replay = Fingerprint.wasApplied(conf, indexDir, rmTag, vfp)
    if (!replay && Fingerprint.tagUsed(conf, indexDir, rmTag)) Fingerprint.refuse(
      s"$opName: tag '$tag' was already used by a " +
        "different removal batch — pass a batch-unique tag (the same " +
        "(tag, victims) pair is the legitimate crash-replay and is re-admitted)")
    // a DIFFERENT removal's surviving state means half-rewritten tables
    // whose crashed legs would never replay — refuse until it completes
    Fingerprint.requireNoOtherPendingRemoval(conf, indexDir, rmTag, opName,
      callerHoldsLease = true)
    replay
  }

  // ---- append envelope ---------------------------------------------------

  /** What an append body works with: the normalized index dir, the data
    * root resolved under the lease, the ONE meta row read for this
    * append, the pending tombstone set, and whether this (tag, delta)
    * pair was already recorded (a replay). */
  final class AppendCtx private[IndexMaintenance] (
      val conf: Configuration, val indexDir: String, val root: String,
      val meta: Row, val tomb: Option[DataFrame], val replay: Boolean)

  /** The exactly-once append every index family's append() shares, in
    * this fixed order:
    *
    *  1. the family's lease ([[withLease]]): `write` for text, vector
    *     and cluster; `xwrite` for term, whose meta serves query stats.
    *  2. [[liveRoot]], resolved under the lease.
    *  3. ONE read of `meta` ([[AppendCtx.meta]]).
    *  4. [[LogicalDelete.requireNotTombstoned]] on the delta's ids
    *     (`fpCols.head`): a tombstoned id is dead until compact()
    *     reclaims it.
    *  5. the refusal of leftover `ap.<tag>` commit state for a DIFFERENT
    *     delta, before any write: the crashed append must replay with
    *     its original batch first.
    *  6. `body` — the family's row writes.
    *  7. ONE meta commit, idempotent at every crash boundary: the state
    *     `rmstate/ap.<tag>` persists (pre-meta, target) before meta is
    *     written ([[Fingerprint.ensureAppendState]]); the write derives
    *     from that record under [[Fingerprint.resolveRemovalMeta]]'s
    *     interleaved-append rule; [[Fingerprint.recordMerge]] is the
    *     commit point; the state is cleared last. A replay of a recorded
    *     pair only clears leftover state. `writeMeta` is the family's
    *     meta row for a target fingerprint. A legacy meta without a
    *     fingerprint has nothing to merge.
    *  8. [[Fingerprint.clearSourceStatus]]: the build-time file statuses
    *     no longer describe the corpus of record.
    *  9. the generation recheck: behind the lease a compact cannot cut
    *     over, but a lease that expired under a stalled holder (or one
    *     broken by hand) can let one in, and rows written into a retired
    *     tree must not report success.
    *
    * Crash steps `<family>.append.{state,meta,record}` follow the three
    * writes of step 7. */
  def append[T](delta: DataFrame, indexDir0: String, tag: String,
                lease: String, fpCols: Seq[String], family: String)
               (body: AppendCtx => T)
               (writeMeta: (AppendCtx, (Long, Long)) => Unit): T = {
    val s = delta.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    val indexDir = normalize(indexDir0)
    val opName = s"${family.capitalize}Index.append"
    withLease(conf, indexDir, lease) {
      val root = liveRoot(conf, indexDir)
      val meta = IndexSnapshot.at(s, indexDir, root).meta
      val tomb = LogicalDelete.ids(s, indexDir)
      LogicalDelete.requireNotTombstoned(s, indexDir,
        delta.select(col(fpCols.head)), fpCols.head, opName, tomb)
      val dfp = Fingerprint.of(delta, fpCols)
      val apTag = s"ap.${Fingerprint.sanitizeTag(tag)}"
      Fingerprint.readRemoveState(conf, indexDir, apTag).foreach {
        case (sdfp, _) => if (sdfp != dfp) Fingerprint.refuse(
          s"$opName: tag '$tag' has leftover append-commit state for a " +
            "DIFFERENT batch (a crashed append under it never completed) — " +
            "re-run that append with its original delta first")
      }
      val ctx = new AppendCtx(conf, indexDir, root, meta, tomb,
        replay = Fingerprint.wasApplied(conf, indexDir, tag, dfp))
      val r = body(ctx)
      if (!ctx.replay) fingerprintOf(meta).foreach { pre =>
        Fingerprint.ensureAppendState(conf, indexDir, apTag, dfp, pre)
        FaultInjection.maybeCrash(s"$family.append.state")
        Fingerprint.resolveRemovalMeta(conf, indexDir, apTag, Some(pre), opName)
          .foreach(writeMeta(ctx, _))
        FaultInjection.maybeCrash(s"$family.append.meta")
        Fingerprint.recordMerge(conf, indexDir, tag, dfp)
        FaultInjection.maybeCrash(s"$family.append.record")
      }
      Fingerprint.clearRemoveState(conf, indexDir, apTag)
      Fingerprint.clearSourceStatus(conf, indexDir)
      require(liveRoot(conf, indexDir) == root,
        s"$opName on $indexDir: index compacted to a new generation during " +
          s"the append; rows landed in the retired tree $root — re-run the " +
          "append (the same tag and delta replay exactly-once) after " +
          "verifying no maintenance is racing")
      r
    }
  }

  /** The tag admission of the families whose appends are tag-scoped
    * dynamic OVERWRITES (term, cluster): a tag sanitizing to the build
    * generation's own `_src` value would overwrite build partitions (and
    * a cluster probe excluding it would skip the build corpus), and a
    * DIFFERENT batch under a used tag would destroy the earlier batch's
    * rows. The exact same (tag, delta) pair is the legitimate crash
    * replay. The append-mode families (text, vector) accept a new delta
    * under a reused tag. */
  private[operators] def admitOverwriteTag(ctx: AppendCtx, tag: String,
                                           opName: String): Unit = {
    require(Fingerprint.sanitizeTag(tag) != "build",
      s"$opName: tag '$tag' sanitizes to the reserved build generation " +
        "name 'build' — its tag-scoped overwrite would destroy build rows; " +
        "pass a batch-unique tag")
    require(ctx.replay || !Fingerprint.tagUsed(ctx.conf, ctx.indexDir, tag),
      s"$opName: tag '$tag' was already used by a different batch; " +
        "appends are tag-scoped dynamic overwrites, so reusing a tag would " +
        "destroy the earlier batch's rows — pass a batch-unique tag (the " +
        "streaming loops use ck<runKey>_b<batchId>)")
  }

  // ---- freshness ---------------------------------------------------------

  /** The corpus fingerprint `(n_rows, content_hash)` of a meta row; None
    * for a legacy meta written before fingerprints. */
  def fingerprintOf(meta: Row): Option[(Long, Long)] =
    if (meta.schema.fieldNames.contains("n_rows"))
      Some((meta.getAs[Long]("n_rows"), meta.getAs[Long]("content_hash")))
    else None

  /** Does the persisted index still describe THIS corpus — the build
    * corpus plus every appended delta, minus every removal? The
    * unchanged-corpus answer is O(files) FS metadata calls
    * ([[Fingerprint.statusFresh]], no Spark job); drift or a non-file
    * corpus falls back to the content-hash authority, one column-pruned
    * aggregate over `fpCols` compared with `meta.(n_rows, content_hash)`
    * — cheap next to the rebuild it guards. */
  def isFresh(s: SparkSession, indexDir: String, corpus: DataFrame,
              fpCols: Seq[String]): Boolean =
    Fingerprint.statusFresh(indexDir, corpus) ||
      IndexSnapshot.fingerprint(s, indexDir,
          liveRoot(s.sparkContext.hadoopConfiguration, indexDir))
        .contains(Fingerprint.of(corpus, fpCols))

  /** Which of `ids` the id-bucketed (`_src`, `idb`) `table` of the live
    * snapshot already holds — the term and cluster families' streaming
    * first-write-wins filter. The batch's id buckets (a <= nBuckets
    * collect) turn the read into a static partition filter, and the
    * pruned scan is semi-joined against the broadcast batch (no
    * shuffle). An id is known only if a DIFFERENT batch than
    * `excludeTag` (a crashed append's replay) ingested it, and a
    * logically-deleted id is not known: its rows are dead pending
    * reclaim, as if the physical remove had already run. */
  def knownIds(s: SparkSession, indexDir: String, table: String, ids: DataFrame,
               idCol: String, excludeTag: Option[String]): DataFrame = {
    val snap = IndexSnapshot(s, indexDir)
    val nBuckets = snap.meta.getAs[Int]("n_buckets")
    val pinned = ids.select(col(idCol)).distinct().localCheckpoint()
    val touched = distinctRows(pinned.select(pmod(xxhash64(col(idCol)),
      lit(nBuckets.toLong)))).map(_.getLong(0))
    val all = snap.table(table).filter(col("idb").isin(touched: _*))
    LogicalDelete.hide(
      excludeTag.fold(all)(tg => all.filter(col("_src") =!= lit(Fingerprint.sanitizeTag(tg))))
        .join(broadcast(pinned), Seq(idCol), "leftsemi").select(col(idCol)),
      idCol, LogicalDelete.ids(s, indexDir))
  }

  /** Build-once/serve-many: run `build` when the index has no committed
    * `table`, when `legacy(root)` says its layout predates a feature the
    * family's verbs rely on, or when it is stale for `corpus`. */
  def ensureFresh(corpus: DataFrame, indexDir: String, fpCols: Seq[String],
                  table: String, legacy: String => Boolean)
                 (build: => Unit): Unit = {
    val s = corpus.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    val root = liveRoot(conf, indexDir)
    val success = new Path(s"$root/$table/_SUCCESS")
    // an unreadable snapshot is legacy too
    if (!success.getFileSystem(conf).exists(success) ||
        scala.util.Try(legacy(root)).getOrElse(true) ||
        !isFresh(s, indexDir, corpus, fpCols))
      build
  }

  /** Whether the table at `path` has column `c`, inferred from its files
    * (not the snapshot's pinned schema); false when unreadable. */
  def hasColumn(s: SparkSession, path: String, c: String): Boolean =
    try s.read.parquet(path).schema.fieldNames.contains(c)
    catch { case _: Exception => false }

  // ---- compaction cutover ------------------------------------------------

  /** Everything a family compact() needs: the current data root to read,
    * the staging root to write, and the expected generation for the
    * guarded pointer flip. */
  final case class CompactCtx(indexDir: String, fromRoot: String,
                              fromGen: Option[Long], newGen: Long,
                              stagingRoot: String, lease: Path,
                              private[IndexMaintenance] val beat: LeaseBeat)

  /** Acquire the compact lease and prepare a clean next-generation
    * staging directory. Callers MUST end with [[finishCompact]] or
    * [[abortCompact]]. */
  def beginCompact(conf: Configuration, indexDir0: String): CompactCtx = {
    val indexDir = normalize(indexDir0)
    // polite PRE-lease wait for healthy in-flight removal halves
    // (ADVICE r17: waiting after acquire can starve a staged half that
    // needs write/remove leases — same index, different lease kind, but
    // the guard's wait-then-die pattern is the hazard, not the kind)
    Fingerprint.awaitInflightQuiesce(conf, indexDir, rmTag = "")
    val lease = acquireLease(conf, indexDir, "compact")
    try {
      // a crashed removal's persisted plan references THIS generation's
      // (_src, bucket) partitions; folding would remap _src values and
      // orphan the replay — victims lingering physically while meta
      // already subtracted them. Refuse until each replays to
      // completion under its own tag (r13; previously only the remove
      // family cross-checked itself). Since r17 the shared guard
      // classifies a heartbeat-fresh IN-FLIGHT lease-free removal half
      // as a retryable conflict (brief wait, then
      // LeaseConflictException) instead of a false crashed verdict
      // (ADVICE r16) — its crashed branch keeps the refusal semantics.
      Fingerprint.requireNoOtherPendingRemoval(conf, indexDir, rmTag = "",
        s"compact on $indexDir", callerHoldsLease = true)
      val fromGen = currentGen(conf, indexDir)
      val newGen = fromGen.getOrElse(0L) + 1
      val staging = new Path(s"$indexDir/g$newGen")
      val fs = staging.getFileSystem(conf)
      // a crashed prior compact may have left a partial staging tree —
      // it never became live (no pointer flip), so it is junk to clear
      if (fs.exists(staging)) fs.delete(staging, true)
      CompactCtx(indexDir, liveRoot(conf, indexDir), fromGen, newGen,
        staging.toString, lease, startBeat(conf, lease))
    } catch { case t: Throwable => releaseLease(conf, lease); throw t }
  }

  /** Flip the generation pointer to the staged tree and GC retired
    * roots with ONE-GENERATION GRACE. The flip re-checks the pointer
    * against the generation read at [[beginCompact]] — a concurrent
    * generation change (another compact that ignored the lease
    * discipline) fails loudly instead of clobbering.
    *
    * GC is deferred by one cutover (review-caught): probes hold no
    * lease, so an in-flight reader that resolved the ABOUT-TO-RETIRE
    * root would hit deleted files if it were GC'd immediately. Keeping
    * exactly one retired generation makes the reader-completeness claim
    * true for any read that does not span two compaction cycles (and
    * compaction is a rare offline pass); generations older than the one
    * being retired — including the legacy top-level tables once g2 cuts
    * over — are deleted here. Disk cost: at most one extra generation
    * retained. */
  def finishCompact(conf: Configuration, ctx: CompactCtx,
                    legacyTables: Seq[String]): Unit = {
    try {
      // fencing BEFORE the pointer flip: a holder that stalled past the
      // TTL (lease reclaimed) must not cut its stale staged tree live
      ctx.beat.assertHeld(s"compact on ${ctx.indexDir}")
      val now = currentGen(conf, ctx.indexDir)
      require(now == ctx.fromGen,
        s"compact on ${ctx.indexDir}: generation moved ${ctx.fromGen} -> " +
          s"$now while compacting; aborting the cutover (staged tree at " +
          s"${ctx.stagingRoot} is inert)")
      writeGen(conf, ctx.indexDir, ctx.newGen)
      val fs = new Path(ctx.indexDir).getFileSystem(conf)
      // delete everything OLDER than the root just retired; keep the
      // just-retired root itself for in-flight lease-free readers
      ctx.fromGen.foreach { g =>
        legacyTables.foreach(t =>
          fs.delete(new Path(s"${ctx.indexDir}/$t"), true))
        (1L until g).foreach(old =>
          fs.delete(new Path(s"${ctx.indexDir}/g$old"), true))
      }
    } finally { ctx.beat.stop(); releaseLease(conf, ctx.lease) }
  }

  /** Release the compact lease after a failed fold; the staged tree (if
    * any) is left for the next [[beginCompact]] to clear. */
  def abortCompact(conf: Configuration, ctx: CompactCtx): Unit = {
    ctx.beat.stop()
    releaseLease(conf, ctx.lease)
  }

  /** The compact() of the text, term and vector families: rewrite each
    * `folds` table (with its partition columns) as one file per
    * partition dir with pure I/O, and copy each small `copies` table.
    * Ingest-provenance `_src` is a data or partition column and carries
    * over verbatim; replay state lives at the index top level, outside
    * the data generations. Tombstoned rows (the families'
    * logicalRemove) are RECLAIMED here: they ride out on the rewrite the
    * fold was doing anyway, retired generations purge (RTBF beats reader
    * grace), and the reclaimed batches clear after the cutover. The
    * staged-table writes run concurrently as legs `compact.<table>`;
    * the cutover is the generation-pointer flip under the compact lease.
    * ClusterIndex.compact keeps its own body (its reclaim re-splits
    * components). */
  def foldCompact(s: SparkSession, indexDir0: String,
                  folds: Seq[(String, Seq[String])], copies: Seq[String]): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val indexDir = normalize(indexDir0)
    val tables = folds.map(_._1) ++ copies
    val ctx = beginCompact(conf, indexDir)
    // lease-time snapshot; the trailing cleanup clears exactly these
    // batches, never one a post-flip logicalRemove adds (r13 review)
    val reclaimBatches = LogicalDelete.pendingBatches(conf, indexDir)
    try {
      val tomb = LogicalDelete.idsOf(s, indexDir, reclaimBatches)
      def dropVictims(df: DataFrame): DataFrame = tomb.fold(df) { t =>
        // the id column name rides in the tombstone frame itself
        df.join(t, Seq(LogicalDelete.idColOf(t)), "left_anti")
      }
      runLegs(
        folds.map { case (t, partCols) => s"compact.$t" -> (() =>
          foldTable(s, ctx.fromRoot, ctx.stagingRoot, t, partCols,
            transform = dropVictims)) } ++
        copies.map(t => s"compact.$t" -> (() =>
          copyTable(s, ctx.fromRoot, ctx.stagingRoot, t))))
    } catch {
      case t: Throwable => abortCompact(conf, ctx); throw t
    }
    finishCompact(conf, ctx, legacyTables = tables)
    if (reclaimBatches.nonEmpty) {
      purgeRetired(conf, indexDir, tables)
      LogicalDelete.clearBatches(conf, indexDir, reclaimBatches)
    }
  }

  /** Delete every RETIRED data generation — the GC-grace copies
    * [[finishCompact]] keeps for lease-free in-flight readers of past
    * cutovers. Called by the remove() family (review-caught): the grace
    * copies hold the victims' rows too, and right-to-be-forgotten beats
    * reader grace; the caller's EXCLUSIVE remove lease is the closest
    * thing to a quiesce point the index has, so this is also the safest
    * moment to drop them. No-op on a never-compacted index. */
  def purgeRetired(conf: Configuration, indexDir0: String,
                   legacyTables: Seq[String]): Unit = {
    val indexDir = normalize(indexDir0)
    currentGen(conf, indexDir).foreach { g =>
      val fs = new Path(indexDir).getFileSystem(conf)
      legacyTables.foreach(t => fs.delete(new Path(s"$indexDir/$t"), true))
      (1L until g).foreach(old =>
        fs.delete(new Path(s"$indexDir/g$old"), true))
    }
  }

  // ---- table rewrite primitives -------------------------------------------

  /** Rewrite one table as one file per partition directory. The read
    * merges every footer: compaction is a rare offline pass, and
    * single-footer inference on a mixed pre-provenance index could
    * sample a legacy file, silently DROP the `_src` data column from
    * the resolved schema, and turn a transient read hazard into
    * permanent provenance loss (the hazard [[TextIndex.probe]] /
    * [[VectorIndex.probeDups]] defend against on the hot path).
    * `remap` lets a caller rewrite columns (e.g. [[ClusterIndex]]'s
    * generation fold) before the repartition. */
  def foldTable(s: SparkSession, fromDir: String, tmpDir: String,
                table: String, partCols: Seq[String],
                remap: Map[String, Column] = Map.empty,
                transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
                  identity): Unit = {
    val base = transform(s.read.option("mergeSchema", "true")
      .parquet(s"$fromDir/$table"))
    val remapped = remap.foldLeft(base) { case (df, (name, expr)) =>
      df.withColumn(name, expr)
    }
    remapped
      .repartition(partCols.map(col): _*) // one task per dir => one file per dir
      .write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(s"$tmpDir/$table")
  }

  /** Copy a small unpartitioned table (meta, centroids) as one file. */
  def copyTable(s: SparkSession, fromDir: String, tmpDir: String,
                table: String): Unit =
    s.read.parquet(s"$fromDir/$table")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmpDir/$table")

  /** The batch tags whose `applied/` marker exists — i.e. the streaming
    * loop's commit point was reached, so that batch can never replay its
    * body again (the marker check runs first). Only these generations
    * are safe to fold away; an appended-but-unmarkered batch is the
    * crash-window replay candidate and must keep its provenance.
    * Markers live at the index top level (outside the data
    * generations), so `indexDir` here is the index dir, not a root. */
  def committedTags(conf: Configuration, indexDir: String): Set[String] = {
    val p = new Path(s"$indexDir/applied")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).toSet
  }
}
