package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The stores one right-to-be-forgotten purge must reach: the document
  * lake (system of record — the S4 reference ships its stream into
  * exactly such a date-partitioned lake, `lake/lake.go:17-90`), the
  * optional embedding lake beside it, and any of the four persisted
  * index families built over them. Index dirs are optional so a
  * deployment indexes only what it serves; the lake is mandatory —
  * a purge that doesn't reach the system of record isn't a purge. */
final case class RtbfTargets(
    lakeDir: String,
    lakePartitionCols: Seq[String],
    idCol: String = "doc_id",
    textCol: String = "text",
    textIndex: Option[String] = None,
    clusterIndex: Option[String] = None,
    termIndex: Option[String] = None,
    vectorIndex: Option[String] = None,
    vecLakeDir: Option[String] = None,
    vecLakePartitionCols: Seq[String] = Nil,
    vecIdCol: String = "vec_id",
    vecCol: String = "embedding")

final case class RtbfStoreResult(store: String, skippedDone: Boolean,
                                 seconds: Double)

final case class RtbfReport(tag: String, nVictims: Long, nVecVictims: Long,
                            stores: Seq[RtbfStoreResult], complete: Boolean)

/** Ops-console view of one purge's crash-state (consumed by
  * [[graft.IndexAdmin]] when pointed at a lake dir): which stores the
  * manifest planned, which carry done markers, and therefore which an
  * interrupted purge still owes. */
final case class RtbfStatus(tag: String, planned: Seq[String],
                            done: Set[String], complete: Boolean,
                            mode: String = "physical") {
  def incomplete: Seq[String] = planned.filterNot(done)
}

/** Single-call right-to-be-forgotten orchestrator (VERDICT r17 item 1).
  *
  * Every per-store verb has existed since r10–r17 — lake
  * [[TargetedDelete.delete]] plus the four index families' physical
  * `remove()` — but a real takedown request meant calling five of them
  * with five tags and nothing owned "purge id X from EVERYTHING and
  * report completion per store"; a half-completed multi-store purge
  * could hide silently. [[purge]] is that owner:
  *
  *  - ONE batch tag drives every store (each family namespaces it
  *    internally, so the per-index crash-replay contracts are untouched);
  *  - the victim rows are SNAPSHOTTED into a manifest under
  *    `<lakeDir>/_rtbf/<tag>/` BEFORE anything mutates — the one
  *    capture every later step (and every crash replay) reads, so a
  *    purge can never lose its victim set to its own lake scrub;
  *  - the four index verbs run CONCURRENTLY (four different dirs, four
  *    independent leases — the purge wall is max(verb), not sum), then
  *    the lakes strictly after every serve surface is clean (the system
  *    of record outlives its derivations); each store sits behind a
  *    done-marker so a crash resumes exactly the stores it owes, and
  *    each verb is itself crash-replayable under the shared tag;
  *  - after the last store a CROSS-STORE AGREEMENT check reads every
  *    surface back (raw index tables, not serve overlays — post
  *    physical remove the rows must be GONE from disk) and refuses to
  *    mark the purge COMPLETE while any store still holds a victim id —
  *    partial success is never silent.
  *
  * Scale: no step materializes the corpus on the driver. The victim
  * snapshot is one write of O(victims), captured once (fingerprint and
  * distinct ids, one job); each index verb is the family's own
  * bucket-pruned rewrite; the agreement check is one job over
  * column-pruned scans (id columns only, filtered to the victim keys).
  * At 100 TB the check is the priciest read (a full id-column
  * scan per store) — it is the point: a purge certificate must read
  * what is actually on disk.
  *
  * Concurrency: one purge per lake at a time is the supported shape
  * (the per-index leases serialize the verbs anyway; two concurrent
  * purges with different tags would interleave legally but the
  * manifest dirs keep their state apart). */
object Rtbf {

  /** Store names, in execution order. Index families first (serve
    * surfaces stop returning victims before the record of what they
    * were vanishes), the document lake LAST. */
  private val IdxText = "idx.text"
  private val IdxCluster = "idx.cluster"
  private val IdxTerm = "idx.term"
  private val IdxVector = "idx.vector"
  private val LakeVec = "lake.vec"
  private val LakeDoc = "lake.doc"

  private def plannedStores(t: RtbfTargets): Seq[String] =
    t.textIndex.map(_ => IdxText).toSeq ++
      t.clusterIndex.map(_ => IdxCluster) ++
      t.termIndex.map(_ => IdxTerm) ++
      t.vectorIndex.map(_ => IdxVector) ++
      t.vecLakeDir.map(_ => LakeVec) ++
      Seq(LakeDoc)

  private def stateDir(lakeDir: String, tag: String): String =
    s"${IndexMaintenance.normalize(lakeDir)}/_rtbf/${Fingerprint.sanitizeTag(tag)}"

  /** Purge `victims` — the EXACT `(id, text)` rows as ingested, the
    * same contract every index family's remove() validates — from all
    * targeted stores under one `tag`. `vecVictims` carries the exact
    * `(vecId, embedding)` rows when a vector index / embedding lake is
    * targeted. Returns the per-store report; throws (without marking
    * COMPLETE) if any surface still holds a victim afterwards.
    *
    * `logical = true` is the continuous-ingest mode (the r13 per-family
    * trade, orchestrated): each index verb becomes the family's
    * `logicalRemove` — a tombstone-overlay write holding the exclusive
    * lease ~2 s instead of the full rewrite wall, with the physical
    * bytes reclaimed at each family's next compact() — while the LAKES
    * still scrub physically (the lake delete is the actual RTBF
    * obligation and is partition-pruned cheap; "logical" only buys
    * cheap leases on the index side, exactly as the per-family logical
    * loops do). The agreement certificate shifts with the mode: a
    * logical purge certifies that every SERVE surface is blind (raw
    * rows anti-joined through the LogicalDelete overlay each family's
    * serve path reads), where a physical purge certifies raw-table
    * absence. The mode RIDES THE MANIFEST — a replay or [[resume]]
    * executes the mode the purge was planned with, and reusing a tag
    * under the other mode refuses. */
  def purge(victims: DataFrame, vecVictims: Option[DataFrame],
            targets: RtbfTargets, tag: String,
            logical: Boolean = false): RtbfReport = {
    val s = victims.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    val state = stateDir(targets.lakeDir, tag)
    val fs = new Path(state).getFileSystem(conf)
    require(targets.vectorIndex.isEmpty && targets.vecLakeDir.isEmpty ||
      vecVictims.nonEmpty,
      "Rtbf.purge: a vector index / embedding lake is targeted but no " +
        "vecVictims were passed")

    val vfp = Fingerprint.of(victims, Seq(targets.idCol, targets.textCol))
    val manifest = new Path(s"$state/MANIFEST")
    if (fs.exists(manifest)) {
      val recorded = readManifest(fs, manifest)
      if (recorded.vfp != s"${vfp._1}:${vfp._2}") Fingerprint.refuse(
        s"Rtbf.purge: tag '$tag' was already used by a different victim " +
          s"batch (recorded ${recorded.vfp}, got ${vfp._1}:${vfp._2}) — " +
          "pass a batch-unique tag; the same (tag, victims) pair is the " +
          "legitimate crash-replay and is re-admitted")
      if (recorded.stores != plannedStores(targets)) Fingerprint.refuse(
        s"Rtbf.purge: tag '$tag' was planned against stores " +
          s"${recorded.stores.mkString(", ")} but this call targets " +
          s"${plannedStores(targets).mkString(", ")} — a replay must " +
          "pass the original targets")
      val mode = if (logical) "logical" else "physical"
      if (recorded.mode != mode) Fingerprint.refuse(
        s"Rtbf.purge: tag '$tag' was planned as a ${recorded.mode} purge " +
          s"but this call asks for $mode — a replay executes the mode " +
          "the manifest recorded; use a fresh tag to purge the other way")
    } else {
      // snapshot FIRST (both at once), manifest (the commit point) LAST:
      // a crash in between re-stages the snapshot from the caller's rows
      IndexMaintenance.parallel(
        (() => victims.select(col(targets.idCol), col(targets.textCol))
          .write.mode("overwrite").parquet(s"$state/victims")) +:
          vecVictims.toSeq.map(v => () => v.select(col(targets.vecIdCol), col(targets.vecCol))
            .write.mode("overwrite").parquet(s"$state/vec_victims")))
      writeManifest(fs, manifest,
        ManifestRec(s"${vfp._1}:${vfp._2}", plannedStores(targets),
          if (logical) "logical" else "physical"))
    }
    runFromManifest(s, targets, tag)
  }

  /** Resume a crashed purge from its manifest alone — the operator
    * story after a driver death: the victim rows live in the snapshot,
    * so the caller no longer needs to reconstruct them (and MUST not
    * try to re-read them from a lake the purge may since have
    * scrubbed). Refuses if no manifest committed (nothing mutated
    * before the manifest lands — just re-run purge()). */
  def resume(s: SparkSession, targets: RtbfTargets, tag: String): RtbfReport = {
    val conf = s.sparkContext.hadoopConfiguration
    val state = stateDir(targets.lakeDir, tag)
    val fs = new Path(state).getFileSystem(conf)
    if (!fs.exists(new Path(s"$state/MANIFEST"))) Fingerprint.refuse(
      s"Rtbf.resume: no committed purge manifest under $state — the " +
        "crash predated the victim snapshot, so nothing was mutated; " +
        "re-run purge() with the victim rows")
    // same plan check as purge(): a resume with narrower targets would
    // otherwise die on a store lookup mid-run instead of refusing here
    val recorded = readManifest(fs, new Path(s"$state/MANIFEST")).stores
    if (recorded != plannedStores(targets)) Fingerprint.refuse(
      s"Rtbf.resume: tag '$tag' was planned against stores " +
        s"${recorded.mkString(", ")} but this call targets " +
        s"${plannedStores(targets).mkString(", ")} — a resume must pass " +
        "the original targets")
    runFromManifest(s, targets, tag)
  }

  private def runFromManifest(s: SparkSession, targets: RtbfTargets,
                              tag: String): RtbfReport = {
    val conf = s.sparkContext.hadoopConfiguration
    val state = stateDir(targets.lakeDir, tag)
    val fs = new Path(state).getFileSystem(conf)
    val rec = readManifest(fs, new Path(s"$state/MANIFEST"))
    val planned = rec.stores
    val logical = rec.mode == "logical"

    // the one authoritative victim capture — every store reads THIS:
    // one job per snapshot gives its fingerprint and its distinct ids
    // (IndexMaintenance.Victims), and each verb, lake scrub and the
    // agreement below consume that capture instead of re-deriving it.
    // Beside it, every store's table schema is resolved once: an index
    // table's is pinned by its snapshot (the verb that scrubs it reads
    // the same entry), a lake's is read here and serves its scrub too,
    // and the agreement reads every store with no schema-inference job.
    // All these reads are independent and tiny, so they run at once
    // (r18 opt, guide §2.6); all settle before the first failure
    // rethrows (ADVICE r18).
    def capture(path: String, fpCols: Seq[String]) = () =>
      Left(IndexMaintenance.Victims(s.read.parquet(path), fpCols))
    val vecPath = s"$state/vec_victims"
    val tables = planned.flatMap(st => storeTable(st, targets, conf).map(st -> _))
    val resolved = IndexMaintenance.parallel[Either[IndexMaintenance.Victims,
        (String, org.apache.spark.sql.types.StructType)]](
      (capture(s"$state/victims", Seq(targets.idCol, targets.textCol)) +:
        (if (fs.exists(new Path(vecPath)))
          Seq(capture(vecPath, Seq(targets.vecIdCol, targets.vecCol)))
        else Nil)) ++
        tables.map { case (st, (dir, table)) => () =>
          Right(st -> (if (table.isEmpty) s.read.parquet(dir).schema
                       else IndexSnapshot(s, dir).schema(table)))
        })
    val caps = resolved.collect { case Left(v) => v }
    val (vic, vecVic) = (caps.head, caps.lift(1))
    val schemas = resolved.collect { case Right(kv) => kv }.toMap

    def done(store: String) = new Path(s"$state/done_$store")
    def execStore(store: String): RtbfStoreResult =
      if (fs.exists(done(store)))
        RtbfStoreResult(store, skippedDone = true, 0.0)
      else graft.Phases.time(s"rm_$store") {
        val t0 = System.nanoTime()
        runStore(s, store, targets, vic, vecVic, tag, logical, schemas.get(store))
        // verb done but marker not yet — a crash here replays the verb
        // (idempotent under its own tag) and then lands the marker
        FaultInjection.maybeCrash(s"rtbf.verb.$store")
        fs.create(done(store), true).close()
        FaultInjection.maybeCrash(s"rtbf.done.$store")
        RtbfStoreResult(store, skippedDone = false,
          (System.nanoTime() - t0) / 1e9)
      }
    // The four index verbs hold leases on FOUR DIFFERENT dirs — nothing
    // serializes them but the driver, so run them CONCURRENTLY (at
    // cluster scale each is its own pruned rewrite job set; a serial
    // orchestrator would quadruple the purge wall for no safety). Every
    // store that can complete does — more done-markers per attempt
    // means less replay after a crash — and the first failure is
    // rethrown only after all settle. The LAKES run strictly AFTER all
    // index verbs succeed: the system of record must outlive its
    // derivations, so a failed serve-surface scrub keeps the lake rows
    // (the manifest snapshot, not the lake, feeds the replay anyway).
    val (idxStores, lakeStores) = planned.partition(_.startsWith("idx."))
    val idxResults =
      if (idxStores.size <= 1) idxStores.map(execStore)
      else IndexMaintenance.parallel(idxStores.map(st => () => execStore(st)))
    // the LAKES stay sequential and doc-last ON PURPOSE (an r18
    // concurrency attempt was reverted): the doc lake is the system of
    // record and must outlive every derivation — including the
    // embedding lake — and RtbfStreamSpec pins the crash semantics
    // (a cut at the vec lake leaves the doc lake untouched).
    val results = idxResults ++ lakeStores.map(execStore)

    // ---- cross-store agreement: every surface, read from disk, ONE
    // job: each store's victim ids (and, for a logical purge, its
    // tombstoned victim ids) collected per task and compared on the
    // driver ----
    val seen = IndexMaintenance.distinctRows(planned
      .flatMap(st => victimIds(s, st, targets, vic, vecVic, logical, schemas.get(st)))
      .reduce(_ unionByName _))
      .map(r => (r.getString(0), r.getBoolean(1), r.get(2)))
    val hidden = seen.collect { case (st, true, id) => (st, id) }.toSet
    val leftovers = seen.collect { case (st, false, id) if !hidden((st, id)) => st }
      .groupBy(identity).map { case (st, ids) => st -> ids.size }.toSeq.sortBy(_._1)
    if (leftovers.nonEmpty) throw new IllegalStateException(
      s"Rtbf.purge '$tag': stores disagree on survivorship after all " +
        s"verbs ran — victim ids remain in ${leftovers
          .map { case (st, n) => s"$st($n)" }.mkString(", ")}; the purge " +
        "is NOT marked complete — investigate (IndexCheck the index " +
        "families) and re-run to replay")
    fs.create(new Path(s"$state/COMPLETE"), true).close()
    RtbfReport(tag, vic.fp._1, vecVic.fold(0L)(_.fp._1), results, complete = true)
  }

  /** The (dir, table) whose schema a store's scrub and agreement read:
    * an index family's id-bearing table, or a lake with data (table
    * ""). None for the cluster family (its agreement reads the served
    * assignments) and for an empty lake. */
  private def storeTable(store: String, t: RtbfTargets,
                         conf: org.apache.hadoop.conf.Configuration)
      : Option[(String, String)] = {
    def lake(dir: String) = Some(dir -> "").filter(_ => hasData(conf, dir))
    store match {
      case IdxText => Some(t.textIndex.get -> "bands")
      case IdxTerm => Some(t.termIndex.get -> "dl")
      case IdxVector => Some(t.vectorIndex.get -> "cells")
      case IdxCluster => None
      case LakeVec => lake(t.vecLakeDir.get)
      case LakeDoc => lake(t.lakeDir)
    }
  }

  private def runStore(s: SparkSession, store: String, t: RtbfTargets,
                       vic: IndexMaintenance.Victims,
                       vecVic: Option[IndexMaintenance.Victims],
                       tag: String, logical: Boolean,
                       schema: Option[org.apache.spark.sql.types.StructType]): Unit =
    store match {
      case IdxText =>
        if (logical) TextIndex.logicalRemove(vic, t.textCol, t.textIndex.get, tag)
        else TextIndex.remove(vic, t.textCol, t.textIndex.get, tag)
      case IdxCluster =>
        if (logical)
          ClusterIndex.logicalRemove(vic.rows, t.idCol, t.textCol,
            t.clusterIndex.get, tag = tag)
        else ClusterIndex.remove(vic.rows, t.idCol, t.textCol, t.clusterIndex.get,
          tag = tag)
      case IdxTerm =>
        if (logical) TermIndex.logicalRemove(vic, t.textCol, t.termIndex.get, tag)
        else TermIndex.remove(vic, t.textCol, t.termIndex.get, tag)
      case IdxVector =>
        if (logical) VectorIndex.logicalRemove(vecVic.get, t.vectorIndex.get, tag)
        else VectorIndex.remove(vecVic.get, t.vectorIndex.get, tag)
      // the lakes scrub PHYSICALLY in both modes: the system-of-record
      // delete is the actual RTBF obligation (and partition-pruned
      // cheap); logical only buys cheap index-side leases. A lake that
      // held no data when the schemas were resolved has none to scrub.
      case LakeVec =>
        if (schema.nonEmpty)
          TargetedDelete.deleteKeys(s, t.vecLakeDir.get, t.vecLakePartitionCols,
            t.vecIdCol, vecVic.get.keys, schema = schema)
      case LakeDoc =>
        if (schema.nonEmpty)
          TargetedDelete.deleteKeys(s, t.lakeDir, t.lakePartitionCols, t.idCol,
            vic.keys, schema = schema)
    }

  /** Whether a lake holds any rows: absent, or holding only hidden
    * entries (this purge state under `_rtbf/`; the scrub drops emptied
    * partitions), it has nothing to delete or certify, and nothing
    * Spark could infer a schema from. A lake may be both the document
    * and the embedding lake, so the second scrub can find it empty. */
  private[graft] def hasData(conf: org.apache.hadoop.conf.Configuration,
                             dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
  }

  /** Victim ids still visible in one store, read from what is ON DISK
    * under the store's resolved `schema`: `(store, tombstoned, id)` rows
    * of the store's id column filtered to the capture's keys. For a
    * PHYSICAL purge the reads are raw tables on purpose — its
    * certificate must not be satisfied by a tombstone overlay hiding
    * rows that still exist. For a LOGICAL purge the victim rows remain
    * on disk BY DESIGN (reclaimed at each family's next compact), so the
    * certificate reads each family's SERVE surface instead: the
    * tombstoned victim ids come along flagged, and the driver drops the
    * raw ids they hide — certifying that every surface is blind, which
    * is what a logical purge promises. The cluster family's
    * [[ClusterIndex.assignments]] IS that overlay-aware serve read in
    * both modes (a physical remove refuses while logical tombstones
    * pend, so its raw table never hides behind one). An empty lake (no
    * schema) holds nothing. */
  private def victimIds(s: SparkSession, store: String, t: RtbfTargets,
                        vic: IndexMaintenance.Victims,
                        vecVic: Option[IndexMaintenance.Victims], logical: Boolean,
                        schema: Option[org.apache.spark.sql.types.StructType])
      : Seq[DataFrame] = {
    val conf = s.sparkContext.hadoopConfiguration
    def ids(df: DataFrame, c: String, keys: TargetedDelete.Keys, tomb: Boolean) =
      keys.semi(df.select(col(c)), c)
        .select(lit(store).as("store"), lit(tomb).as("tomb"), col(c).cast("string").as("id"))
    def table(dir: String, name: String, c: String, keys: TargetedDelete.Keys) = {
      val raw = ids(s.read.schema(schema.get)
        .parquet(s"${IndexMaintenance.liveRoot(conf, dir)}/$name"), c, keys, tomb = false)
      raw +: (if (!logical) Nil else LogicalDelete.ids(s, dir).toSeq.map(tb =>
        ids(tb.select(col(LogicalDelete.idColOf(tb)).as(c)), c, keys, tomb = true)))
    }
    def lake(dir: String, c: String, keys: TargetedDelete.Keys) =
      schema.toSeq.map(sc => ids(s.read.schema(sc).parquet(dir), c, keys, tomb = false))
    store match {
      case IdxText => table(t.textIndex.get, "bands", t.idCol, vic.keys)
      case IdxCluster =>
        Seq(ids(ClusterIndex.assignments(s, t.clusterIndex.get, t.idCol), t.idCol,
          vic.keys, tomb = false))
      case IdxTerm => table(t.termIndex.get, "dl", t.idCol, vic.keys)
      case IdxVector => table(t.vectorIndex.get, "cells", t.vecIdCol, vecVic.get.keys)
      case LakeVec => lake(t.vecLakeDir.get, t.vecIdCol, vecVic.get.keys)
      case LakeDoc => lake(t.lakeDir, t.idCol, vic.keys)
    }
  }

  // ---- manifest + ops-console status ----------------------------------

  /** Whether `tag`'s victim snapshot COMMITTED (the manifest landed) —
    * the routing question a replaying caller must ask: committed means
    * the purge may since have scrubbed the lakes, so the victim set
    * must come from [[resume]] (the manifest), never re-resolved from
    * the stores of record. Pure FS metadata; no Spark. */
  def manifestCommitted(conf: org.apache.hadoop.conf.Configuration,
                        lakeDir: String, tag: String): Boolean = {
    val p = new Path(s"${stateDir(lakeDir, tag)}/MANIFEST")
    p.getFileSystem(conf).exists(p)
  }

  /** The committed purge's authoritative victim capture — `(victims,
    * vecVictims)` exactly as snapshotted before anything mutated. For
    * callers that must act on the victim ROWS during a replay (e.g.
    * [[graft.streaming.S4Stream.rtbfPurgeStream]] re-records content
    * tombstones before resuming); refuses when no manifest committed,
    * same as [[resume]]. */
  def manifestVictims(s: SparkSession, lakeDir: String,
                      tag: String): (DataFrame, Option[DataFrame]) = {
    val conf = s.sparkContext.hadoopConfiguration
    val state = stateDir(lakeDir, tag)
    val fs = new Path(state).getFileSystem(conf)
    if (!fs.exists(new Path(s"$state/MANIFEST"))) Fingerprint.refuse(
      s"Rtbf.manifestVictims: no committed purge manifest under $state")
    val vic = s.read.parquet(s"$state/victims")
    val vecVic =
      if (fs.exists(new Path(s"$state/vec_victims")))
        Some(s.read.parquet(s"$state/vec_victims"))
      else None
    (vic, vecVic)
  }

  private final case class ManifestRec(vfp: String, stores: Seq[String],
                                       mode: String = "physical")

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            p: Path, rec: ManifestRec): Unit = {
    val out = fs.create(p, true)
    try out.write(s"${rec.vfp}\n${rec.stores.mkString(",")}\n${rec.mode}\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           p: Path): ManifestRec = {
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val lines = txt.linesIterator.toSeq
    ManifestRec(lines.head,
      lines.lift(1).filter(_.nonEmpty).fold(Seq.empty[String])(
        _.split(",").toSeq),
      // pre-r18-logical manifests carry no mode line: physical
      lines.lift(2).filter(_.nonEmpty).getOrElse("physical"))
  }

  /** Every purge's crash-state under a lake dir — the ops-console read
    * [[graft.IndexAdmin]] renders so an interrupted purge NAMES the
    * stores it still owes (VERDICT r17 item 1's "refuses partial
    * success silently" has to be inspectable, not just thrown). Pure FS
    * metadata; no Spark. */
  def status(conf: org.apache.hadoop.conf.Configuration,
             lakeDir: String): Seq[RtbfStatus] = {
    val base = new Path(s"${IndexMaintenance.normalize(lakeDir)}/_rtbf")
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.filter(_.isDirectory).flatMap { st =>
      val tagDir = st.getPath
      val manifest = new Path(tagDir, "MANIFEST")
      if (!fs.exists(manifest)) None // pre-commit crash: nothing mutated
      else {
        val rec = readManifest(fs, manifest)
        val done = fs.listStatus(tagDir).map(_.getPath.getName)
          .filter(_.startsWith("done_")).map(_.stripPrefix("done_")).toSet
        Some(RtbfStatus(tagDir.getName, rec.stores, done,
          complete = fs.exists(new Path(tagDir, "COMPLETE")),
          mode = rec.mode))
      }
    }.sortBy(_.tag)
  }
}
