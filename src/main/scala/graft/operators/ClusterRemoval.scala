package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Phases

/** The cluster family's REMOVAL protocols — the staged physical
  * [[remove]] (windows A/B/C: brief-lease validation + barrier,
  * lease-free staging, brief-lease flip), its plan-first crash-replay
  * machinery (PLAN_READY / REWRITE_STARTED / plan-validity under
  * interleaved appends), and the RTBF fast-path [[logicalRemove]]
  * (tombstone + persisted serve-overlay). Public surface stays on
  * [[ClusterIndex.remove]] / [[ClusterIndex.logicalRemove]], which
  * delegate here. Split out of the facade in r16 (VERDICT r15
  * item 4) — pure code motion, zero behavior change; every FaultInjection
  * crash point, marker path, and leg name is unchanged, so the
  * IndexRemoveSpec / LogicalDeleteSpec crash matrices gate the move.
  */
private[operators] object ClusterRemoval {

  import ClusterIndex.{idb, tb}
  import ClusterResplit.{resplitPlan, repairComponents, writeOverlay}

  /** Index-side targeted DELETE (VERDICT r10 item 1 — the
    * right-to-be-forgotten contract reaching the persisted index, not
    * just the lake): remove `victims` rows from every table and re-split
    * the components they held together. Deletion is the one maintenance
    * op where the append-side quotient argument (class doc) does NOT
    * apply — removing a doc can disconnect its component — so the
    * component structure is recomputed, but SCOPED: only the victims'
    * own components can change (an inter-component edge would have
    * merged them at build/append time, so no other component's
    * connectivity involves a victim), and the re-split is one PPJoin+CC
    * over those components' SURVIVING members — O(touched components),
    * never the corpus.
    *
    * `victims` must carry the EXACT `(id, text)` rows as ingested (the
    * lake still has them pre-delete — the composed flow reads them out
    * before scrubbing): the meta fingerprint is maintained by exact
    * subtraction ([[Fingerprint.unmerge]]), so after remove the index
    * fingerprint equals a fresh build over the surviving corpus and
    * [[isFresh]] keeps answering correctly. All victim ids must be
    * indexed (checked against `toks` before anything mutates).
    *
    * Crash safety is PLAN-FIRST (ADVICE r11, replacing the r11
    * discover-on-replay protocol whose discovery read the very table
    * the rewrites mutate — a crash inside the per-partition dynamic
    * overwrite could strand survivors of partially-flipped components
    * with mixed old/new ids):
    *
    *  1. DISCOVER the affected components, their survivors, and the
    *     re-split assignment while every table is still pristine, and
    *     PERSIST that plan (`rmstate/<tag>/{newassign,parts,commit}` +
    *     a `PLAN_READY` marker written last) — a replay never
    *     re-discovers from mutated state;
    *  2. COMMIT the fingerprint idempotently: the meta write recomputes
    *     the TARGET fingerprint from the persisted commit record, so
    *     the former crash window between the meta overwrite and the
    *     replay record (which double-subtracted) now converges;
    *  3. REWRITE rows driven from the persisted plan — each rewrite is
    *     an idempotent pruned dynamic overwrite, replayable from any
    *     boundary (postings before toks, since the token-bucket prune
    *     derives from the victims' indexed token sets);
    *  4. CLEAR the plan state LAST; a replay finding no state under an
    *     applied record no-ops through empty discovery.
    *
    * The stale `df` hint is left as-is — the one-sided prefix argument
    * (class doc) needs no accurate df, only SOME k-subset, so an
    * over-counted df can never lose a pair. */
  def remove(victims: DataFrame, idCol: String, textCol: String,
             indexDir: String, tag: String = "remove"): Unit = {
    val s = victims.sparkSession
    import s.implicits._
    val conf = s.sparkContext.hadoopConfiguration
    val normDir = IndexMaintenance.normalize(indexDir)
    val rmTag = s"rm.$tag"
    val captured = IndexMaintenance.Victims(victims, Seq(idCol, textCol))
    val (vfp, keys) = (captured.fp, captured.keys)
    val stateDir = Fingerprint.removeStatePath(normDir, rmTag)
    val planMarker = new org.apache.hadoop.fs.Path(s"$stateDir/PLAN_READY")
    val stateFs = planMarker.getFileSystem(conf)
    val barrierBatch = Fingerprint.sanitizeTag(rmTag)

    // ---- WINDOW A (r15, VERDICT r14 item 6): validation + fingerprint
    // commit + victim BARRIER under a BRIEF exclusive lease — the same
    // work (and the same wall) as logicalRemove. The expensive table
    // rewrites then STAGE lease-free (window B) and FLIP under a second
    // brief lease (window C), so the ingest pause is the two short
    // windows, not the full rewrite wall. The barrier is a LogicalDelete
    // tombstone batch under the removal's own tag: from the moment A
    // returns, probes are blind to the victims, appends refuse their
    // ids, and probe candidate generation excludes them — so no new
    // edge, posting, or assignment involving a victim can form while
    // the staging runs, which is what makes the staged rewrite sound. ----
    var root: String = null
    var thr = 0.0
    var nBuckets = 0
    var vIdb: Seq[Long] = Seq.empty
    var replay = false
    var planReady = false
    var completedReplay = false
    var stagedPath = false
    // pre-lease wait, IndexMaintenance.removal's step 1
    Fingerprint.awaitInflightQuiesce(conf, normDir, rmTag)
    // phases rm_validate / rm_stage / rm_flip time windows A, B and C
    // (VERDICT r16 item 2: a cross-box swing in the remove names its window)
    Phases.time("rm_validate")(IndexMaintenance.withLease(conf, indexDir, "remove") {
      root = IndexMaintenance.liveRoot(conf, indexDir)
      val m = IndexSnapshot.at(s, normDir, root).meta
      thr = m.getAs[Double]("threshold")
      nBuckets = m.getAs[Int]("n_buckets")
      val oldFp = IndexMaintenance.fingerprintOf(m)
      // the envelope's in-lease checks (IndexMaintenance.removal): this
      // verb spreads its work over three lease windows, so it cannot
      // run inside one envelope
      replay = IndexMaintenance.admitRemoval(conf, normDir, tag, vfp,
        "ClusterIndex.remove")
      // pending LOGICAL deletions would read as survivors in the re-split
      // discovery — reclaim them first. Our OWN barrier batch (a replay
      // re-entering after A committed it) is exempt: its ids ARE the
      // victims this removal is erasing.
      LogicalDelete.requireNonePending(conf, indexDir, "ClusterIndex.remove",
        exceptBatch = Some(barrierBatch))
      planReady = stateFs.exists(planMarker)
      // a PLAN_READY marker without its commit record means the state
      // dir was PARTIALLY deleted (a cut cleanup): fabricating fresh
      // state here would re-run the rewrites against whatever the id
      // namespace holds NOW — including a legitimately re-ingested
      // victim id — so refuse loudly (review-restored r15; the pre-r15
      // protocol had exactly this guard)
      if (planReady && Fingerprint.readRemoveState(conf, normDir, rmTag).isEmpty)
        throw new IllegalStateException(
          s"ClusterIndex.remove: $stateDir has PLAN_READY but no commit " +
            "record — the state dir was partially deleted; verify the " +
            "index, clear the rmstate dir, and re-run")
      // Replay of a COMPLETED removal (record exists, state cleaned, no
      // plan): the prior run finished — meta, rows, and barrier cleanup
      // all landed. Re-running discovery would find any POST-reclaim
      // re-ingest of a victim id and wrongly erase the new document
      // while meta keeps its contribution (the physical face of the
      // ADVICE r13 logical fix) — the replay is a no-op.
      completedReplay = replay && !planReady &&
        Fingerprint.readRemoveState(conf, normDir, rmTag).isEmpty
      if (keys.n > 0L && !completedReplay) {
        // bounded collect: the victim set's id-hash buckets — a pure
        // function of the victims argument, so replay-stable
        vIdb = keys.mapDistinct(idb(_, nBuckets)).map(_.asInstanceOf[Long])
        // content known-check and provenance guard on pristine tables:
        // rewrites only start after PLAN_READY
        if (!replay && !planReady)
          validateVictims(s, root, normDir, oldFp, victims, keys, vIdb,
            idCol, textCol, "ClusterIndex.remove")
        // ---- idempotent fingerprint commit, the logicalRemove shape:
        // target persisted BEFORE the meta overwrite (and the metabase
        // before both — see Fingerprint.writeRemoveMetaBase), so every
        // crash boundary — and every append interleaved across one —
        // replays to the same meta value ----
        Fingerprint.ensureRemoveState(conf, normDir, rmTag, vfp, replay,
          oldFp, "ClusterIndex.remove")
        Fingerprint.resolveRemovalMeta(conf, normDir, rmTag, oldFp,
          "ClusterIndex.remove").foreach { fp =>
          Phases.time("meta_commit")(ClusterIndex.writeMeta(s, root, thr, nBuckets, fp))
        }
        FaultInjection.maybeCrash("cluster.meta")
        if (!replay) Fingerprint.recordMerge(conf, indexDir, rmTag, vfp)
        FaultInjection.maybeCrash("cluster.record")
        // staged path: only when no rewrite has started (plan absent —
        // a crash mid-staging/flip replays through the in-lease path
        // below, which re-reads LIVE state) and the index tracks append
        // provenance (legacy pre-fingerprint meta records no merges, so
        // window C could not detect an interleaved append)
        stagedPath = !planReady && oldFp.isDefined
        if (stagedPath) LogicalDelete.write(keys.frame, idCol, normDir, rmTag)
      }
    })
    if (keys.n > 0L && !completedReplay) {
      if (stagedPath)
        // in-flight heartbeat across the staged half (r17): rmstate pends
        // through the lease-free window B and the two lease gaps; the
        // beat keeps concurrent guards reading this as a retryable
        // in-flight removal, never a false crashed verdict (ADVICE r16)
        Fingerprint.withInflightBeat(conf, normDir, rmTag)(
          removeStaged(s, conf, root, normDir, rmTag, stateDir, planMarker,
            idCol, keys, vIdb, nBuckets))
      else Phases.time("rm_flip")(IndexMaintenance.withLease(conf, indexDir, "remove") {
        require(IndexMaintenance.liveRoot(conf, indexDir) == root,
          s"ClusterIndex.remove on $indexDir: the index was compacted to a " +
            "new generation during the removal — re-run it (same tag + " +
            "victims replays idempotently) after verifying no maintenance " +
            "is racing")
        // replay / legacy path: plan (if absent) + commit in place,
        // all under one lease — with the same plan-validity and
        // rewrite-started discipline as the staged path (review-caught
        // r15: a replay after PLAN_READY used to commit a stale plan
        // without validation, folding interleaved appends in wrongly)
        if (!stateFs.exists(planMarker)) {
          persistPlan(s, root, normDir, stateDir, idCol, keys, vIdb, nBuckets)
          stateFs.create(planMarker, true).close()
          FaultInjection.maybeCrash("cluster.plan")
        }
        commitFromPlan(s, conf, root, normDir, stateDir, idCol, keys,
          vIdb, nBuckets)
        finishRemove(s, conf, normDir, rmTag, barrierBatch)
      })
    }
  }

  /** The one victim check of both removal verbs, on a first attempt,
    * in ONE job over the victims' rows and their pruned slices of `toks`
    * and `assign` ([[TargetedDelete.checkVictims]]): the content
    * known-check (one row per id in this family — but a duplicated or
    * conflicting victim feed still mismatches and refuses) and the
    * mid-append crash guard (see [[TextIndex.remove]]: a victim from an
    * append whose fingerprint merge never recorded must not subtract —
    * its delta was never added; pre-provenance rows read `_src` null =
    * build-era). */
  private def validateVictims(s: SparkSession, root: String, normDir: String,
                              oldFp: Option[(Long, Long)], victims: DataFrame,
                              keys: TargetedDelete.Keys, vIdb: Seq[Long],
                              idCol: String, textCol: String, opName: String): Unit = {
    def pruned(table: String) =
      keys.semi(s.read.parquet(s"$root/$table").filter(col("idb").isin(vIdb: _*)), idCol)
    val rows = Seq(
      TargetedDelete.digestRow(victims, "v", idCol, lit(1L),
        xxhash64(Dedup.hashedTokenSet(col(textCol)))),
      TargetedDelete.digestRow(pruned("toks"), "s", idCol, lit(1L), xxhash64(col("_toks")))) ++
      (if (oldFp.isEmpty) Nil else Seq(TargetedDelete.digestRow(
        pruned("assign"), "b", idCol, lit(0L), lit(0L), col("_src"))))
    val srcs = Phases.time("known_check")(TargetedDelete.requireKnownSets(
      rows.reduce(_ unionByName _), idCol, keys, opName))
    if (oldFp.isDefined)
      Fingerprint.requireRecordedProvenance(s.sparkContext.hadoopConfiguration,
        normDir, srcs, opName)
  }

  /** Persist the re-split plan (newassign / parts / vtb / comps) for
    * the victims `keys` from the CURRENT tree — the discovery half of [[remove]],
    * shared by the staged first run (window B, lease-free behind the
    * victim barrier) and the in-lease fallback/replay path. The parquet
    * writes double as the materialization the r11 eager checkpoints
    * provided, and the plan — not the soon-to-be-rewritten assign
    * table — is what a replay reads. */
  // ---- small state files beside the plan (r15 review hardening) ----
  // plantags: the recorded-tag snapshot taken BEFORE discovery began —
  // the plan-validity check's reference point (appends record LAST, so
  // any append whose writes could have been half-seen by the discovery
  // scan is guaranteed to show in the delta). REWRITE_STARTED: written
  // under the lease, after validation, before the first rewrite/flip —
  // its presence tells a replay the tables are no longer pristine (plan
  // is the sole authority; never re-validate or rediscover), and its
  // CONTENT (the tag snapshot at that moment) tells the replay whether
  // appends interleaved after the crash, in which case the completed
  // rewrites get a label-repair pass.
  private def writeTagFile(conf: org.apache.hadoop.conf.Configuration,
                           path: String, tags: Set[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(tags.toSeq.sorted.mkString(",")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readTagFile(conf: org.apache.hadoop.conf.Configuration,
                          path: String): Option[Set[String]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      Some(txt.split(",").filter(_.nonEmpty).toSet)
    }
  }

  /** Is the persisted plan still valid against the CURRENT tree? True
    * when no append recorded since the plan's tag snapshot, or when the
    * interleaved appends provably never touched the affected
    * components: equal member-id sets AND no member row from a
    * post-plan tag (the second clause closes the mid-discovery
    * half-read race where an in-flight append's assign partition was
    * read but its edges partition was not — set equality alone could
    * then pass while newassign splits the new doc from its mates).
    * Must run under the remove lease with NO rewrite started. */
  private def planValid(s: SparkSession, conf: org.apache.hadoop.conf.Configuration,
                        root: String, normDir: String, stateDir: String,
                        idCol: String, keys: TargetedDelete.Keys): Boolean = {
    val tagsNow = Fingerprint.recordedTags(conf, normDir)
    val tagsAtPlan = readTagFile(conf, s"$stateDir/plantags")
      .getOrElse(return false) // no snapshot => cannot prove validity
    if (tagsNow == tagsAtPlan) true
    else Phases.time("plan_validate") {
      val compsDf = s.read.parquet(s"$stateDir/comps")
      val current = s.read.parquet(s"$root/assign")
        .join(broadcast(compsDf), Seq("component"), "left_semi")
        .select(col(idCol), col("_src"))
        .localCheckpoint(eager = false)
      val planIds = s.read.parquet(s"$stateDir/newassign")
        .select(col(idCol))
        .unionByName(keys.frame.select(col(idCol)))
      val newSrcs = (tagsNow -- tagsAtPlan).map(Fingerprint.sanitizeTag).toSeq
      val touchedByNew =
        if (newSrcs.isEmpty) 0L
        else current.filter(col("_src").isin(newSrcs: _*)).limit(1).count()
      val drifted =
        current.select(col(idCol)).exceptAll(planIds).limit(1).count() +
          planIds.exceptAll(current.select(col(idCol))).limit(1).count()
      touchedByNew == 0L && drifted == 0L
    }
  }

  /** Persist the plan files; returns the collected (parts, vtb) lists
    * so the staged first-run path never re-reads them from parquet
    * (r18 opt — replay paths still read the persisted files, which stay
    * byte-equivalent: the local re-write writes exactly the collected
    * rows). */
  private def persistPlan(s: SparkSession, root: String, normDir: String,
                          stateDir: String,
                          idCol: String, keys: TargetedDelete.Keys,
                          vIdb: Seq[Long], nBuckets: Int,
                          preVtb: Option[Seq[Long]] = None)
      : (Seq[(String, Long)], Seq[Long]) = {
    import s.implicits._
    val conf = s.sparkContext.hadoopConfiguration
    // snapshot FIRST (see the plantags comment above)
    writeTagFile(conf, s"$stateDir/plantags",
      Fingerprint.recordedTags(conf, normDir))
    // the victims' INDEXED token sets drive the postings bucket prune.
    // Read from the CURRENT toks table on purpose: until del-toks runs
    // it is pristine, and a replay after del-toks finds it empty exactly
    // when del-postings already completed — the prune no-ops. The
    // staged first run precomputes the buckets (preVtb) BEFORE its
    // fan-out so stage.postings needn't wait for this plan call's
    // CC-bearing critical path (r19); same expression, same pristine
    // read, the file written below is identical either way.
    lazy val vToks = Phases.time("vtoks")(s.read.parquet(s"$root/toks")
      .filter(col("idb").isin(vIdb: _*))
      .transform(keys.semi(_, idCol))
      .select(col(idCol), col("_toks"))
      .localCheckpoint(eager = false))
    val (comps, newAssign) = resplitPlan(s, root, idCol, keys, vIdb)
    // the four plan files are independent — write them CONCURRENTLY
    // (r18 opt, guide §2.6 overlap: serial they cost four small-job
    // walls; the shared lazy checkpoints (comps, survivors) are already
    // materialized by the CC pass inside resplitPlan, so the pool never
    // races a first materialization). parts/vtb are driver-small by
    // construction — collect them and write the collected rows, so the
    // caller gets the lists without a parquet round-trip.
    var parts: Seq[(String, Long)] = Seq.empty
    var vTb: Seq[Long] = Seq.empty
    Phases.time("plan_write")(IndexMaintenance.runLegs(Seq(
      "plan.newassign" -> (() =>
        newAssign.write.mode("overwrite").parquet(s"$stateDir/newassign")),
      // the assign partitions to rewrite: every partition holding a
      // row of an affected component (victims included). Driver-small
      // (<= generations x buckets).
      "plan.parts" -> (() => {
        parts = s.read.parquet(s"$root/assign")
          .join(keys.sized(comps), Seq("component"), "left_semi")
          .select(col("_src"), col("idb").cast("long").as("idb")).distinct()
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        parts.toDF("_src", "idb")
          .coalesce(1).write.mode("overwrite").parquet(s"$stateDir/parts")
      }),
      // plan-resident postings buckets make all four rewrites order-free
      // — and therefore parallel (r12)
      "plan.vtb" -> (() => {
        vTb = preVtb.getOrElse(
          vToks.select(explode(col("_toks")).as("_tok"))
            .select(tb(col("_tok"), nBuckets).as("tb")).distinct()
            .collect().map(_.getLong(0)).toSeq)
        vTb.toDF("tb")
          .coalesce(1).write.mode("overwrite").parquet(s"$stateDir/vtb")
      }),
      // the affected components themselves — window C's plan-validity
      // membership check reads these (r15)
      "plan.comps" -> (() =>
        comps.coalesce(1).write.mode("overwrite").parquet(s"$stateDir/comps")))))
    (parts, vTb)
  }
  /** The four plan-driven table rewrites, IN PLACE and in PARALLEL —
    * the pre-r15 commit phase, now the replay/fallback path. Every
    * rewrite touches a DISTINCT table, every prune input lives in the
    * persisted plan (never in another rewrite's table), and every
    * rewrite is an idempotent pruned dynamic overwrite — so a replay
    * converges from ANY completed subset, including a crash mid-FLIP of
    * the staged path (flipped partitions pass through keep unchanged:
    * victims already gone, the remap joins by id and is idempotent).
    *
    * edges: adjacency-log hygiene — a removed id MUST leave the log,
    * or a later re-ingest under the same id would inherit the old
    * text's edges and falsely merge clusters. One combined
    * either-endpoint pass through equi semi/anti joins — no collected
    * literal list (ADVICE r11). Dead set nodes keep their set-set
    * rows: consumers drop them at read time via the member-row
    * liveness rule; compaction folds them away. */
  /** The assign-table surgery closures — (mark, keep, prePrune) for the
    * plan-driven combined victim-drop + survivor-remap — shared by the
    * in-place rewrite, the staged rewrite, and the digest-staleness
    * downgrade (one definition; review-caught r15: three copies would
    * drift). */
  private def assignSurgery(s: SparkSession, stateDir: String, idCol: String,
                            keys: TargetedDelete.Keys,
                            parts: Seq[(String, Long)]):
      (DataFrame => DataFrame, DataFrame => DataFrame, Column) = {
    import s.implicits._
    // A/B-rejected r19: consuming the in-memory newAssign here (saving
    // the tiny parquet re-read) re-runs the CC-tail joins inside the
    // staged write and FRAGMENTS it into more AQE stage-jobs (14 vs 9
    // for stage.assign) — the file read is the cheaper plan.
    val newAssign = s.read.parquet(s"$stateDir/newassign")
    val partsDf = parts.toDF("_psrc", "_pidb")
    (df => df.join(broadcast(partsDf),
        col("_src") === col("_psrc") &&
          col("idb").cast("long") === col("_pidb"), "left_semi"),
      df => keys.anti(df, idCol)
        .join(newAssign, Seq(idCol), "left")
        .withColumn("component",
          coalesce(col("_newcomp"), col("component")))
        .drop("_newcomp"),
      col("idb").isin(parts.map(_._2).distinct: _*))
  }

  private def rewriteFromPlan(s: SparkSession, conf: org.apache.hadoop.conf.Configuration,
                              root: String, stateDir: String, idCol: String,
                              keys: TargetedDelete.Keys,
                              vIdb: Seq[Long]): Unit = {
    val parts = s.read.parquet(s"$stateDir/parts")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val vTb = s.read.parquet(s"$stateDir/vtb")
      .collect().map(_.getLong(0)).toSeq
    IndexMaintenance.runLegs(Seq(
      "cluster.assign" -> (() => Phases.time("assign_rewrite")(if (parts.nonEmpty) {
        val (mark, keep, prePrune) = assignSurgery(s, stateDir, idCol, keys, parts)
        TargetedDelete.rewriteWhere(
          s, s"$root/assign", Seq("_src", "idb"), mark, keep, prePrune)
        (): Unit
      })),
      "cluster.postings" -> (() => Phases.time("del_postings")(if (vTb.nonEmpty) {
        TargetedDelete.deleteKeys(s, s"$root/postings",
          Seq("_src", "tb"), idCol, keys, col("tb").isin(vTb: _*))
        (): Unit
      })),
      "cluster.toks" -> (() => Phases.time("del_toks") {
        TargetedDelete.deleteKeys(s, s"$root/toks",
          Seq("_src", "idb"), idCol, keys, col("idb").isin(vIdb: _*))
        (): Unit
      }),
      "cluster.edges" -> (() => Phases.time("del_edges") {
        TargetedDelete.deleteAnyKeys(s, s"$root/edges",
          Seq("_src", "eb"), Seq("u", "v"), keys)
        (): Unit
      })))
  }

  /** The removal's trailing bookkeeping, shared by both commit paths:
    * freshness fast-path revocation, retired-generation purge (RTBF
    * beats reader grace), barrier-tombstone cleanup, and — LAST — the
    * state cleanup; a replay arriving after this point no-ops through
    * the completed-replay rule under its applied record. */
  private def finishRemove(s: SparkSession, conf: org.apache.hadoop.conf.Configuration,
                           normDir: String, rmTag: String,
                           barrierBatch: String): Unit = {
    Fingerprint.clearSourceStatus(conf, normDir)
    Phases.time("bookkeeping")(IndexMaintenance.purgeRetired(conf, normDir,
      Seq("assign", "toks", "postings", "df", "edges", "meta")))
    LogicalDelete.clearBatches(conf, normDir, Seq(barrierBatch))
    Fingerprint.clearRemoveState(conf, normDir, rmTag)
  }

  private def deleteStaged(conf: org.apache.hadoop.conf.Configuration,
                           stateDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/staged")
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Commit the persisted plan IN PLACE under the remove lease — the
    * replay / fallback / legacy path, with the r15 review hardening:
    * before the FIRST rewrite ever runs, the plan is validated against
    * interleaved appends exactly like window C (a stale plan
    * rediscovers — nothing has mutated, the tree is pristine again
    * under the lease); once REWRITE_STARTED exists the plan is the sole
    * authority (tables are mid-rewrite — re-validation would read
    * half-applied state), the rewrites complete idempotently after
    * restoring any cut-mid-swap staged partitions, and appends recorded
    * AFTER the rewrites began get a label-repair pass over the affected
    * components. */
  private def commitFromPlan(s: SparkSession, conf: org.apache.hadoop.conf.Configuration,
                             root: String, normDir: String, stateDir: String,
                             idCol: String, keys: TargetedDelete.Keys,
                             vIdb: Seq[Long], nBuckets: Int): Unit = {
    val startedPath = s"$stateDir/REWRITE_STARTED"
    readTagFile(conf, startedPath) match {
      case None =>
        if (!planValid(s, conf, root, normDir, stateDir, idCol, keys)) {
          deleteStaged(conf, stateDir) // stale staging is meaningless now
          persistPlan(s, root, normDir, stateDir, idCol, keys, vIdb, nBuckets)
        }
        writeTagFile(conf, startedPath, Fingerprint.recordedTags(conf, normDir))
        rewriteFromPlan(s, conf, root, stateDir, idCol, keys, vIdb)
      case Some(tagsAtStart) =>
        // a flip may have been cut between a partition's delete and its
        // rename: restore those partitions from their staged copies
        // BEFORE the in-place pass reads the table (review-caught r15 —
        // without this the partition's unrelated survivor rows are lost)
        val staged = s"$stateDir/staged"
        Seq("assign", "postings", "toks", "edges").foreach { t =>
          TargetedDelete.restoreStaged(s, s"$root/$t", s"$staged/$t")
        }
        rewriteFromPlan(s, conf, root, stateDir, idCol, keys, vIdb)
        if (Fingerprint.recordedTags(conf, normDir) != tagsAtStart)
          repairComponents(s, root, stateDir, idCol)
    }
  }

  /** The r15 staged commit path (VERDICT r14 item 6): discovery +
    * staging run LEASE-FREE behind the victim barrier window A wrote —
    * probes are already blind, appends refuse the victim ids, and probe
    * candidate generation excludes them, so nothing involving a victim
    * can form while this runs — then window C takes the remove lease
    * only for plan validation + the partition FLIP + bookkeeping. The
    * ingest pause becomes A + C (~the logicalRemove wall twice) instead
    * of the full rewrite wall (~30 s at sf1, hours at 100 TB).
    *
    * Plan validity under interleaved appends (window C): the plan holds
    * iff the affected components' membership is untouched — equal
    * member-id sets AND no member row from a tag recorded after the
    * plan snapshot (the second clause closes the mid-discovery-scan
    * race where an in-flight append's assign partition was read but its
    * edges partition was not: set equality alone could then pass while
    * newassign splits the new doc from its mates). Any drift falls back
    * to rediscovery + in-place rewrites under the lease — the pre-r15
    * path at the pre-r15 cost, never a wrong answer. Per-partition
    * staleness (an append's bridge amendment landing in a staged ASSIGN
    * partition — the one table appends amend in place) is caught by the
    * manifest digests and downgraded to the in-place assign rewrite
    * alone; toks/postings/edges partitions are only ever appended as
    * NEW partition dirs, which the selective flip never touches. */
  private def removeStaged(s: SparkSession, conf: org.apache.hadoop.conf.Configuration,
                           root: String, normDir: String, rmTag: String,
                           stateDir: String, planMarker: org.apache.hadoop.fs.Path,
                           idCol: String, keys: TargetedDelete.Keys,
                           vIdb: Seq[Long], nBuckets: Int): Unit = {
    val stateFs = planMarker.getFileSystem(conf)
    val staged = s"$stateDir/staged"
    var parts: Seq[(String, Long)] = Seq.empty
    var vTb: Seq[Long] = Seq.empty
    // ---- WINDOW B: discovery + plan + staging, under a WRITE lease —
    // appends coexist (write+write is allowed; the victim barrier keeps
    // them away from anything this removal touches), while a concurrent
    // remove/logicalRemove/compact gets the RETRYABLE
    // LeaseConflictException at its own acquire instead of reading this
    // healthy in-flight removal's rmstate as "crashed ... never
    // completed" (review-caught r15: a takedown stream retries the
    // former and dies on the latter) ----
    Phases.time("rm_stage")(IndexMaintenance.withLease(conf, normDir, "write") {
      import s.implicits._
      // the postings bucket prune, derived UP FRONT (pristine toks read
      // — same expression persistPlan would run) so the plan call's
      // CC-bearing critical path no longer gates stage.postings
      val vToksPre = Phases.time("vtoks")(s.read.parquet(s"$root/toks")
        .filter(col("idb").isin(vIdb: _*))
        .transform(keys.semi(_, idCol))
        .select(col(idCol), col("_toks")))
      vTb = Phases.time("vtb")(IndexMaintenance.distinctRows(
        vToksPre.select(explode(col("_toks")).as("_tok")).select(tb(col("_tok"), nBuckets)))
        .map(_.getLong(0)))
      // OVERLAP the CC-bearing plan (and the assign staging that needs
      // its newassign/parts output) with the three victim-only staged
      // rewrites (r19, guide §2.6): staging never mutates the live
      // tree, so a crash anywhere in this fan-out replays exactly as
      // before — PLAN_READY present => in-place commitFromPlan (stale
      // staged dirs are overwritten or cleared), absent => rediscovery
      // over the still-pristine tables re-stages from scratch. The
      // IndexRemoveSpec crash matrix gates both boundaries.
      IndexMaintenance.runLegs(Seq(
        "stage.plan" -> (() => {
          val planLists = persistPlan(s, root, normDir, stateDir, idCol,
            keys, vIdb, nBuckets, preVtb = Some(vTb))
          stateFs.create(planMarker, true).close() // plan commit point
          FaultInjection.maybeCrash("cluster.plan")
          parts = planLists._1
          // nested single leg keeps the stage.assign crash point and
          // leg name exactly where the matrix arms them
          IndexMaintenance.runLegs(Seq(
            "stage.assign" -> (() => Phases.time("stage_assign")(if (parts.nonEmpty) {
              val (mark, keep, prePrune) =
                assignSurgery(s, stateDir, idCol, keys, parts)
              TargetedDelete.stageRewrite(
                s, s"$root/assign", s"$staged/assign", Seq("_src", "idb"),
                mark, keep, prePrune,
                captureStatus = true) // assign is the one append-amendable table
            }))))
        }),
        "stage.postings" -> (() => Phases.time("stage_postings")(if (vTb.nonEmpty) {
          TargetedDelete.stageRewrite(
            s, s"$root/postings", s"$staged/postings", Seq("_src", "tb"),
            mark = keys.semi(_, idCol),
            keep = keys.anti(_, idCol),
            prePrune = col("tb").isin(vTb: _*))
        })),
        "stage.toks" -> (() => Phases.time("stage_toks") {
          TargetedDelete.stageRewrite(
            s, s"$root/toks", s"$staged/toks", Seq("_src", "idb"),
            mark = keys.semi(_, idCol),
            keep = keys.anti(_, idCol),
            prePrune = col("idb").isin(vIdb: _*))
        }),
        "stage.edges" -> (() => Phases.time("stage_edges") {
          TargetedDelete.stageRewrite(
            s, s"$root/edges", s"$staged/edges", Seq("_src", "eb"),
            mark = keys.semiAny(_, Seq("u", "v")),
            keep = Seq("u", "v").foldLeft(_)(keys.anti))
        })))
    })
    FaultInjection.maybeCrash("cluster.stage")
    // ---- WINDOW C: validate + flip under the remove lease ----
    Phases.time("rm_flip")(IndexMaintenance.withLease(conf, normDir, "remove") {
      require(IndexMaintenance.liveRoot(conf, normDir) == root,
        s"ClusterIndex.remove on $normDir: the index was compacted to a " +
          "new generation during the removal — re-run it (same tag + " +
          "victims replays idempotently) after verifying no maintenance " +
          "is racing")
      if (!planValid(s, conf, root, normDir, stateDir, idCol, keys)) {
        // interleaved appends touched the affected components: the plan
        // is stale. Rediscover under the lease — appends are excluded
        // now and no rewrite has run, so the tree is pristine again —
        // and commit in place: correctness first, pre-r15 cost.
        deleteStaged(conf, stateDir)
        persistPlan(s, root, normDir, stateDir, idCol, keys, vIdb, nBuckets)
        writeTagFile(conf, s"$stateDir/REWRITE_STARTED",
          Fingerprint.recordedTags(conf, normDir))
        rewriteFromPlan(s, conf, root, stateDir, idCol, keys, vIdb)
      } else {
        // the flip is about to mutate tables: from here a replay must
        // never re-validate or rediscover (commitFromPlan's rule)
        writeTagFile(conf, s"$stateDir/REWRITE_STARTED",
          Fingerprint.recordedTags(conf, normDir))
        IndexMaintenance.runLegs(Seq(
          // flip legs keep the pre-r15 leg names: the crash matrix arms
          // them, and a crash after any flip replays through
          // commitFromPlan (plan present => fallback), which restores
          // cut-mid-swap partitions and re-reads LIVE state
          "cluster.assign" -> (() => Phases.time("flip_assign")(if (parts.nonEmpty) {
            if (!TargetedDelete.applyStaged(s, s"$root/assign", s"$staged/assign")) {
              // an append amended a staged assign partition (digest
              // drift): in-place assign rewrite reads current rows
              val (mark, keep, prePrune) =
                assignSurgery(s, stateDir, idCol, keys, parts)
              TargetedDelete.rewriteWhere(
                s, s"$root/assign", Seq("_src", "idb"), mark, keep, prePrune)
              (): Unit
            }
          })),
          "cluster.postings" -> (() => Phases.time("flip_postings")(if (vTb.nonEmpty) {
            TargetedDelete.applyStaged(s, s"$root/postings", s"$staged/postings")
            (): Unit
          })),
          "cluster.toks" -> (() => Phases.time("flip_toks") {
            TargetedDelete.applyStaged(s, s"$root/toks", s"$staged/toks")
            (): Unit
          }),
          "cluster.edges" -> (() => Phases.time("flip_edges") {
            TargetedDelete.applyStaged(s, s"$root/edges", s"$staged/edges")
            (): Unit
          })))
      }
      finishRemove(s, conf, normDir, rmTag,
        Fingerprint.sanitizeTag(rmTag))
    })
  }

  /** LOGICAL targeted delete (VERDICT r12 item 1) — the RTBF fast path:
    * same validation and the same idempotent fingerprint subtraction as
    * [[remove]], but the mutations are one small tombstone-batch write
    * under `<indexDir>/deleted/` plus the serve-overlay (the victims'
    * component re-split, persisted so reads don't recompute it) — both
    * bounded by the victims' components, no index table rewritten.
    * Probes, [[assignments]], and [[knownIds]] are
    * blind to the victims the moment this returns; the rows are
    * physically reclaimed — and the component structure reconciled —
    * by the next [[compact]] (see [[LogicalDelete]] for the interim
    * semantics: tombstoned ids are dead to appends until reclaim, and
    * a component a victim bridged stays unsplit until reclaim).
    * `victims` must carry the EXACT `(id, text)` rows as ingested,
    * like [[remove]]; tags share the remove namespace (a tag can never
    * be reused across a logical and a physical removal). */
  def logicalRemove(victims: DataFrame, idCol: String, textCol: String,
                    indexDir: String, tag: String = "remove"): Unit = {
    val s = victims.sparkSession
    // the lease-free overlay half's arguments, set when the in-lease
    // commit ran (r16 — see the comment below)
    var overlayArgs: Option[(String, Int, TargetedDelete.Keys, Seq[Long], String)] = None
    var resolvedFp: Option[(Long, Long)] = None
    val captured = IndexMaintenance.Victims(victims, Seq(idCol, textCol))
    val keys = captured.keys
    IndexMaintenance.removal(captured, indexDir, tag, "ClusterIndex.logicalRemove", "cluster.logical") { ctx =>
      val (conf, normDir, root) = (ctx.conf, ctx.indexDir, ctx.root)
      val thr = ctx.meta.getAs[Double]("threshold")
      val nBuckets = ctx.meta.getAs[Int]("n_buckets")
      if (keys.n == 0L) None
      else {
        // a pre-r11 index has no adjacency log: compact's reclaim
        // re-split reads it, so refusing HERE — nothing mutated yet —
        // beats a tombstone that bricks every later compact
        // (review-caught r13; same edgesOk rule as ensure())
        val edgesDir = new org.apache.hadoop.fs.Path(s"$root/edges")
        val edgesFs = edgesDir.getFileSystem(conf)
        if (!edgesFs.exists(edgesDir) || edgesFs.listStatus(edgesDir).isEmpty)
          Fingerprint.refuse(
            "ClusterIndex.logicalRemove: this index has no adjacency log " +
              "(pre-r11 layout) — rebuild it (ensure()) first; compact's " +
              "reclaim needs the log to re-split the victims' components")
        val vIdb = keys.mapDistinct(idb(_, nBuckets)).map(_.asInstanceOf[Long])
        if (ctx.firstAttempt) {
          // a second logical delete of the same id would double-subtract
          LogicalDelete.requireNotTombstoned(normDir, keys, "ClusterIndex.logicalRemove")
          validateVictims(s, root, normDir, IndexMaintenance.fingerprintOf(ctx.meta),
            victims, keys, vIdb, idCol, textCol, "ClusterIndex.logicalRemove")
        }
        overlayArgs = Some((root, nBuckets, keys, vIdb, normDir))
        Some(IndexMaintenance.RemovalCommit(
          rows = () => ctx.tombstone(keys.frame, idCol),
          writeMeta = { fp =>
            resolvedFp = Some(fp)
            ClusterIndex.writeMeta(s, root, thr, nBuckets, fp)
          },
          holdState = true))
      }
    }
    // ---- LEASE-FREE overlay half (r16): the serve-overlay write is
    // the expensive leg of the logical takedown (the victims\' component
    // re-split over the edge log — ~19 s of a ~24 s call at sf1 when a
    // victim hits a large family) and it is ADVISORY: readers validate
    // (root, fingerprint, batch list, and since r16 the identity
    // embedded in the pinned payload) and fall back to the live
    // recompute on ANY mismatch. Holding the globally-exclusive remove
    // lease across it made every concurrent ingest append wait out the
    // re-split (TakedownIngestProfile: ~13.5 s blocked at sf1 vs the
    // staged physical remove\'s ~1.8 s) for zero correctness benefit —
    // the lease-free write has exactly the live recompute\'s read
    // exposure (snapshot-less parquet reads under in-flight appends),
    // and anything an interleaved append or compact changes invalidates
    // the overlay at read time (fingerprint/root drift), never serves
    // it. The envelope held the state (`holdState`), so it clears LAST
    // here: a crash anywhere in this half leaves rmstate pending and the
    // replay re-runs the overlay idempotently (LogicalDeleteSpec case 2).
    // A concurrent removal cannot start meanwhile (rmstate pends), and a
    // concurrent append merely invalidates the artifact it raced.
    overlayArgs.foreach { case (root, nBuckets, keys, vIdb, normDir) =>
      val conf = s.sparkContext.hadoopConfiguration
      val rmTag = s"rm.$tag"
      // in-flight heartbeat (r17, ADVICE r16): rmstate legitimately
      // pends for this half's whole wall on every HEALTHY call — the
      // beat keeps concurrent compact()/removal/ensure() guards reading
      // it as a retryable in-flight removal (brief wait, then
      // LeaseConflictException) instead of a false "crashed ... never
      // completed" verdict; a real crash stops the beat and the verdict
      // flips back within one lease TTL.
      Fingerprint.withInflightBeat(conf, normDir, rmTag) {
        FaultInjection.maybeCrash("cluster.logical.overlay")
        // BEST-EFFORT (review-caught r15): a transient failure must not
        // leave rmstate pending and wedge later removals over an artifact
        // whose absence costs one extra per-read recompute.
        try Phases.time("overlay")(writeOverlay(s, root, normDir, idCol, nBuckets,
          curBatch = rmTag, curVids = (keys, vIdb), newFp = resolvedFp))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println("[ClusterIndex.logicalRemove] serve-overlay " +
              s"write failed — serves fall back to the live re-split: $e")
        }
        Fingerprint.clearSourceStatus(conf, normDir)
        // state cleanup LAST — every step above replays from the record
        Fingerprint.clearRemoveState(conf, normDir, rmTag)
      }
    }
  }
}
