package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent near-dup index over a TEXT corpus — the standing-corpus
  * side of [[Dedup.minhashNearDupsAgainst]] made build-once/probe-many,
  * the same lifecycle split [[VectorIndex]] gives the ANN path. Without
  * it, every incremental ingest re-pays the corpus-wide pass (tokenize,
  * 128 min-hashes per doc) just to ask "is this month's dump new?".
  *
  *  - [[build]] runs that pass ONCE and persists plain parquet —
  *    engine-independent, object-store friendly:
  *    `<dir>/bands` (one row per (doc, band): band hash + full signature,
  *    PARTITIONED BY a band-hash bucket) and `<dir>/toks` (sorted hashed
  *    token sets for exact verification, PARTITIONED BY an id bucket),
  *    plus a one-row `<dir>/meta` carrying the hash-family parameters.
  *  - [[probe]] computes the INCOMING side only, collects its touched
  *    band-hash buckets (bounded by nBuckets ints — the upsertStream
  *    argument), and scans ONLY those `hb=` partitions of the band
  *    table; verification then prunes `<dir>/toks` the same way via the
  *    candidates' id buckets. A small dump against a huge corpus reads
  *    the index partitions its own hashes land in, not the corpus.
  *  - [[append]] adds a new dump's rows under the FROZEN hash family
  *    (parameters from meta, so probe-vs-build drift is impossible) —
  *    O(|delta|), never a corpus rewrite. The natural ingest loop is
  *    probe → keep novel docs → append them.
  *
  * Same fixture, same parameters => [[probe]] returns EXACTLY
  * [[Dedup.minhashNearDupsAgainst]]'s answer (TextIndexSpec gates the
  * equivalence, the file-level pruning, and append-then-probe).
  */
object TextIndex {

  // private[graft]: IndexCheck re-derives band rows from the stored
  // token sets to audit the persisted table against the frozen params.
  // posexplode_outer: the band array is never null or empty, and a plain
  // posexplode's inferred size(_bh) > 0 filter runs the kernel twice
  private[graft] def bandRows(toks: DataFrame, idCol: String, numHashes: Int,
                              bands: Int, nBuckets: Int, seed: Int): DataFrame =
    toks
      .select(col(idCol),
        graft.functions.MinHashBands(col("_toks"), numHashes, bands, seed).as("_bh"))
      .select(col(idCol), col("_bh"),
        posexplode_outer(col("_bh")).as(Seq("band", "band_hash")))
      .withColumn("hb", pmod(col("band_hash"), lit(nBuckets.toLong)))

  private def tokRows(toks: DataFrame, idCol: String, nBuckets: Int): DataFrame =
    toks.withColumn("idb", pmod(xxhash64(col(idCol)), lit(nBuckets.toLong)))

  /** One corpus pass: tokenize + sign every document, persist the
    * bucket-partitioned band and token tables plus the parameter row —
    * which also carries the indexed corpus' fingerprint (staleness guard;
    * see [[Fingerprint]] / [[isFresh]]). */
  def build(docs: DataFrame, idCol: String, textCol: String, indexDir: String,
            numHashes: Int = 128, bands: Int = 16, nBuckets: Int = 64,
            seed: Int = 42): Unit = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val s = docs.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    // write lease + live-root resolution: tables land in the current
    // data generation, and a racing compact() fails loudly (see
    // [[IndexMaintenance]])
    IndexMaintenance.withLease(conf, indexDir, "write") {
    val root = IndexMaintenance.liveRoot(conf, indexDir)
    val toks = docs
      .select(col(idCol), Dedup.hashedTokenSet(col(textCol)).as("_toks"))
      .localCheckpoint() // feeds both tables; never recompute the hash pass
    tokRows(toks, idCol, nBuckets)
      .write.mode("overwrite").partitionBy("idb").parquet(s"$root/toks")
    bandRows(toks, idCol, numHashes, bands, nBuckets, seed)
      .withColumn("_src", lit("build")) // ingest provenance, see probe
      .write.mode("overwrite").partitionBy("hb").parquet(s"$root/bands")
    writeMeta(s, root, Params(numHashes, bands, nBuckets, seed),
      Fingerprint.of(docs, Seq(idCol, textCol)))
    // a rebuild wiped the indexed rows: batch markers / merge records
    // from the previous build generation must not survive it
    Fingerprint.clearReplayState(conf, indexDir)
    // nor may pending tombstones — they would hide the rebuilt corpus'
    // rows under recycled ids (see [[LogicalDelete.clear]])
    LogicalDelete.clear(conf, indexDir)
    // freshness fast-path: record the corpus file statuses LAST — a
    // crash mid-build degrades to the hash scan, never a false fresh
    Fingerprint.writeSourceStatus(conf, indexDir, Fingerprint.sourceStatus(docs))
    }
  }

  /** The frozen hash-family parameters of one meta row. */
  private final case class Params(numHashes: Int, bands: Int, nBuckets: Int,
                                  seed: Int)

  private def params(m: org.apache.spark.sql.Row): Params =
    Params(m.getAs[Int]("num_hashes"), m.getAs[Int]("bands"),
      m.getAs[Int]("n_buckets"), m.getAs[Int]("seed"))

  // root = resolved data root (IndexMaintenance.liveRoot), not the index dir
  private def readParams(s: SparkSession, root: String): Params =
    params(s.read.parquet(s"$root/meta").head())

  private def writeMeta(s: SparkSession, root: String, p: Params,
                        fp: (Long, Long)): Unit = {
    import s.implicits._
    Seq((p.numHashes, p.bands, p.nBuckets, p.seed, fp._1, fp._2))
      .toDF("num_hashes", "bands", "n_buckets", "seed", "n_rows", "content_hash")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
  }

  /** Does the persisted index still describe THIS corpus? False when meta
    * is absent / pre-fingerprint or the corpus was regenerated in place
    * ([[IndexMaintenance.isFresh]]). The fingerprint tracks the corpus
    * OF RECORD: build corpus plus every [[append]]ed delta. */
  def isFresh(s: SparkSession, indexDir: String, corpus: DataFrame,
              idCol: String, textCol: String): Boolean =
    IndexMaintenance.isFresh(s, indexDir, corpus, Seq(idCol, textCol))

  /** Build-once/probe-many entry: (re)build only when the index is absent
    * or stale w.r.t. `docs`. A pre-provenance index (no `_src` column)
    * can't honor probe's excludeTag replay guard, so it counts as stale. */
  def ensure(docs: DataFrame, idCol: String, textCol: String, indexDir: String,
             numHashes: Int = 128, bands: Int = 16, nBuckets: Int = 64,
             seed: Int = 42): Unit =
    IndexMaintenance.ensureFresh(docs, indexDir, Seq(idCol, textCol), "bands",
      root => !IndexMaintenance.hasColumn(docs.sparkSession, s"$root/bands", "_src")) {
      build(docs, idCol, textCol, indexDir, numHashes, bands, nBuckets, seed)
    }

  /** O(|delta|) maintenance: sign a new dump with the index's FROZEN
    * parameters and append its rows to both tables; the meta fingerprint
    * absorbs the delta once per (tag, delta) pair
    * ([[IndexMaintenance.append]]) so [[isFresh]] keeps working. `tag` is
    * the ingest-provenance label stored on the band rows — pass a
    * batch-unique value to make a probe-then-append loop replayable
    * (see [[probe]]'s excludeTag); a replay re-appends its rows, which
    * probe semantics tolerate. */
  def append(delta: DataFrame, idCol: String, textCol: String,
             indexDir: String, tag: String = "append"): Unit =
    IndexMaintenance.append(delta, indexDir, tag, "write",
        Seq(idCol, textCol), "text") { ctx =>
      val p = params(ctx.meta)
      val toks = delta
        .select(col(idCol), Dedup.hashedTokenSet(col(textCol)).as("_toks"))
        .localCheckpoint()
      tokRows(toks, idCol, p.nBuckets)
        .write.mode("append").partitionBy("idb").parquet(s"${ctx.root}/toks")
      bandRows(toks, idCol, p.numHashes, p.bands, p.nBuckets, p.seed)
        .withColumn("_src", lit(tag))
        .write.mode("append").partitionBy("hb").parquet(s"${ctx.root}/bands")
    } { (ctx, fp) =>
      writeMeta(delta.sparkSession, ctx.root, params(ctx.meta), fp)
    }

  /** Index-side targeted DELETE (VERDICT r10 item 1): drop `victims`
    * from both tables so probes stop matching right-to-be-forgotten
    * docs, and subtract their contribution from the meta fingerprint so
    * [[isFresh]] tracks the surviving corpus of record. `victims` must
    * carry the EXACT `(id, text)` rows as ingested (read them from the
    * lake before scrubbing it) and every id must be indexed — checked
    * before anything mutates. Crash-safe like the cluster sibling: the
    * subtract + replay record commit first, then the idempotent pruned
    * rewrites (band buckets recomputed from the victims' indexed token
    * sets under the frozen hash family, so the prune is exact); a
    * replayed `(tag, victims)` pair re-runs only the rewrites. Removes
    * duplicate rows from crashed append replays too — removal is by id,
    * not by row. */
  def remove(victims: DataFrame, idCol: String, textCol: String,
             indexDir: String, tag: String = "remove"): Unit =
    IndexMaintenance.removal(victims, indexDir, tag, Seq(idCol, textCol),
        "TextIndex.remove") { ctx =>
    val s = victims.sparkSession
    val conf = ctx.conf
    val root = ctx.root
    val m = s.read.parquet(s"$root/meta").head()
    val Params(numHashes, bandCount, nBuckets, seed) = params(m)
    val oldFp = IndexMaintenance.fingerprintOf(m)
    // pending logical deletions must reclaim first (their victims would
    // read as indexed rows here) — see [[LogicalDelete]]
    LogicalDelete.requireNonePending(conf, ctx.indexDir, "TextIndex.remove")
    val vids = victims.select(col(idCol)).distinct().localCheckpoint()
    val nV = vids.count()
    if (nV > 0L) {
      val vIdb = vids
        .select(pmod(xxhash64(col(idCol)), lit(nBuckets.toLong)).as("idb"))
        .distinct().collect().map(_.getLong(0)).toSeq
      // the victims' INDEXED token sets: authoritative for the band
      // buckets their rows live in (frozen family => exact recompute).
      // Broadcast only below the mass-victim key threshold (VERDICT r11
      // item 1), like every victim join in the remove family.
      val vToks = s.read.parquet(s"$root/toks")
        .filter(col("idb").isin(vIdb: _*))
        .join(TargetedDelete.maybeBroadcast(vids, nV), Seq(idCol), "leftsemi")
        .select(col(idCol), col("_toks"))
        .localCheckpoint()
      // the content known-check and the band-bucket collect + provenance
      // guard share only already-checkpointed inputs (vToks, vids) — run
      // them concurrently (r18 opt, guide §2.6; the known-check's
      // refusal is rethrown first on a double failure)
      var vHb: Seq[Long] = Seq.empty
      val bands = s.read.parquet(s"$root/bands") // ONE relation resolution
      IndexMaintenance.runLegs(Seq(
        "text.validate.known" -> (() => if (!ctx.replay)
          // per victim id, the stored token-set hashes must EQUAL the
          // victim rows' (r14): the delete is id-keyed, so a partial
          // victim set would subtract a fingerprint that diverges from
          // the rows actually removed, poisoning isFresh forever
          TargetedDelete.requireKnownContent(
            victims, xxhash64(Dedup.hashedTokenSet(col(textCol))),
            vToks, xxhash64(col("_toks")), idCol, nV, "TextIndex.remove")),
        "text.validate.bands" -> (() => {
          vHb = bandRows(vToks, idCol, numHashes, bandCount, nBuckets, seed)
            .select(col("hb")).distinct().collect().map(_.getLong(0)).toSeq
          // victims whose append crashed MID-append (rows landed, fingerprint
          // merge never recorded) must not subtract — their delta was never
          // added. One pruned read of the victims' band rows' provenance,
          // bounded by |tags|; only meaningful on fingerprinted indexes with
          // provenance columns. Same sanitized namespace as tagfp/ names.
          if (!ctx.replay && oldFp.isDefined &&
              bands.schema.fieldNames.contains("_src")) {
            val vSrcs = bands
              .filter(col("hb").isin(vHb: _*))
              .join(TargetedDelete.maybeBroadcast(vids, nV), Seq(idCol), "leftsemi")
              .select(col("_src")).filter(col("_src").isNotNull) // pre-provenance rows = build-era
              .distinct().collect().map(_.getString(0)).toSet
            Fingerprint.requireRecordedProvenance(conf, ctx.indexDir, vSrcs,
              "TextIndex.remove")
          }
        })))
      // idempotent fingerprint commit (ADVICE r11; r15: metabase-first +
      // resolveRemovalMeta, so appends interleaved across a crash
      // window replay exactly instead of having their merges wiped by
      // an absolute-target overwrite)
      Fingerprint.ensureRemoveState(conf, ctx.indexDir, ctx.rmTag, ctx.vfp,
        ctx.replay, oldFp, "TextIndex.remove")
      val stateDir = Fingerprint.removeStatePath(ctx.indexDir, ctx.rmTag)
      // the victims' band buckets join the commit record as plan state
      // (computed from the toks table, pristine on any first attempt):
      // the bands prune no longer depends on another rewrite's table,
      // so the two deletes are order-free — and parallel (the same
      // protocol as ClusterIndex.remove's four legs). Written whenever
      // ABSENT, not only with a fresh record, so a removal that crashed
      // under the pre-plan protocol (record exists, no vhb) self-heals:
      // recomputing from the current toks reproduces exactly the old
      // protocol's bucket list at every one of its crash boundaries
      // (toks was always deleted last, and an empty recompute can only
      // happen after the bands delete already completed).
      // Presence is an explicit fs.create'd marker (ClusterIndex's
      // PLAN_READY protocol) or surviving part files — NOT _SUCCESS,
      // which deployments disable (mapreduce.fileoutputcommitter
      // .marksuccessfuljobs=false is common object-store tuning): with
      // only _SUCCESS probed, a replay after the parallel toks leg
      // completed would recompute vHb from the now-empty toks table and
      // overwrite the plan with an empty bucket list, leaving the
      // victims' band rows alive forever. An existing plan is never
      // overwritten.
      val vhbDir = new org.apache.hadoop.fs.Path(s"$stateDir/vhb")
      val vhbMarker = new org.apache.hadoop.fs.Path(s"$stateDir/VHB_READY")
      val vhbFs = vhbMarker.getFileSystem(conf)
      val vhbPresent = vhbFs.exists(vhbMarker) ||
        (vhbFs.exists(vhbDir) && vhbFs.listStatus(vhbDir)
          .exists(st => st.isFile && st.getPath.getName.startsWith("part-")))
      if (!vhbPresent) {
        import s.implicits._
        vHb.toDF("hb").coalesce(1)
          .write.mode("overwrite").parquet(vhbDir.toString)
      }
      if (!vhbFs.exists(vhbMarker)) vhbFs.create(vhbMarker, true).close()
      FaultInjection.maybeCrash("text.state")
      Fingerprint.resolveRemovalMeta(conf, ctx.indexDir, ctx.rmTag, oldFp,
        "TextIndex.remove").foreach(writeMeta(s, root, params(m), _))
      FaultInjection.maybeCrash("text.meta")
      if (!ctx.replay) Fingerprint.recordMerge(conf, ctx.indexDir, ctx.rmTag, ctx.vfp)
      FaultInjection.maybeCrash("text.record")
      // both rewrites plan-driven and idempotent: run concurrently,
      // surface the first failure only after both settle (a mid-leg
      // crash must never leave a sibling job racing the replay).
      // When THIS call just wrote the plan, the in-memory list IS its
      // content — re-reading the file buys nothing (r18 opt); a replay
      // that found an existing plan still reads the file of record.
      val vHbPlan =
        if (!vhbPresent) vHb
        else s.read.parquet(s"$stateDir/vhb")
          .collect().map(_.getLong(0)).toSeq
      IndexMaintenance.runLegs(Seq(
        "text.bands" -> (() => {
          TargetedDelete.delete(s, s"$root/bands", Seq("hb"), idCol, vids,
            col("hb").isin(vHbPlan: _*))
          (): Unit
        }),
        "text.toks" -> (() => {
          TargetedDelete.delete(s, s"$root/toks", Seq("idb"), idCol, vids,
            col("idb").isin(vIdb: _*))
          (): Unit
        })))
      Fingerprint.clearSourceStatus(conf, ctx.indexDir)
      // retired GC-grace generations hold the victims' rows too —
      // right-to-be-forgotten beats reader grace (see
      // IndexMaintenance.purgeRetired)
      IndexMaintenance.purgeRetired(conf, ctx.indexDir, Seq("bands", "toks", "meta"))
      // state cleanup LAST — every step above replays from the record
      Fingerprint.clearRemoveState(conf, ctx.indexDir, ctx.rmTag)
    }
  }

  /** LOGICAL targeted delete (VERDICT r12 item 1) — the RTBF fast path:
    * same validation and the same idempotent fingerprint subtraction as
    * [[remove]], but the only mutation is one small tombstone-batch
    * write under `<indexDir>/deleted/` — O(victims), no band/toks
    * rewrite. [[probe]] is blind to the victims the moment this
    * returns; the rows are physically reclaimed by the next [[compact]]
    * (see [[LogicalDelete]] — tombstoned ids are dead to appends until
    * then). `victims` must carry the EXACT `(id, text)` rows as
    * ingested; tags share the remove namespace. */
  def logicalRemove(victims: DataFrame, idCol: String, textCol: String,
                    indexDir: String, tag: String = "remove"): Unit =
    IndexMaintenance.removal(victims, indexDir, tag, Seq(idCol, textCol),
        "TextIndex.logicalRemove") { ctx =>
    val s = victims.sparkSession
    val conf = ctx.conf
    val root = ctx.root
    val m = s.read.parquet(s"$root/meta").head()
    val Params(numHashes, bandCount, nBuckets, seed) = params(m)
    val oldFp = IndexMaintenance.fingerprintOf(m)
    val vids = victims.select(col(idCol)).distinct().localCheckpoint()
    val nV = vids.count()
    if (nV > 0L && !ctx.completedReplay) {
      val vIdb = vids
        .select(pmod(xxhash64(col(idCol)), lit(nBuckets.toLong)).as("idb"))
        .distinct().collect().map(_.getLong(0)).toSeq
      if (!ctx.replay) {
        LogicalDelete.requireNotTombstoned(s, ctx.indexDir, vids, idCol,
          "TextIndex.logicalRemove")
        // the victims' indexed token sets, read ONCE for both checks: the
        // content check's job materializes the lazy checkpoint and the
        // provenance guard's band recompute reuses it
        val vToks = s.read.parquet(s"$root/toks")
          .filter(col("idb").isin(vIdb: _*))
          .join(TargetedDelete.maybeBroadcast(vids, nV), Seq(idCol), "leftsemi")
          .select(col(idCol), col("_toks"))
          .localCheckpoint(eager = false)
        TargetedDelete.requireKnownContent(
          victims, xxhash64(Dedup.hashedTokenSet(col(textCol))),
          vToks, xxhash64(col("_toks")), idCol, nV, "TextIndex.logicalRemove")
        // mid-append crash guard, same pruned provenance read as remove()
        val bands = s.read.parquet(s"$root/bands") // ONE relation resolution
        if (oldFp.isDefined && bands.schema.fieldNames.contains("_src")) {
          val vHb = bandRows(vToks, idCol, numHashes, bandCount, nBuckets, seed)
            .select(col("hb")).distinct().collect().map(_.getLong(0)).toSeq
          val vSrcs = bands
            .filter(col("hb").isin(vHb: _*))
            .join(TargetedDelete.maybeBroadcast(vids, nV), Seq(idCol), "leftsemi")
            .select(col("_src")).filter(col("_src").isNotNull)
            .distinct().collect().map(_.getString(0)).toSet
          Fingerprint.requireRecordedProvenance(conf, ctx.indexDir, vSrcs,
            "TextIndex.logicalRemove")
        }
      }
      // idempotent fingerprint commit — remove()'s protocol shape (r15:
      // metabase-first + interleaving-exact replay resolution)
      Fingerprint.ensureRemoveState(conf, ctx.indexDir, ctx.rmTag, ctx.vfp,
        ctx.replay, oldFp, "TextIndex.logicalRemove")
      FaultInjection.maybeCrash("text.logical.state")
      Fingerprint.resolveRemovalMeta(conf, ctx.indexDir, ctx.rmTag, oldFp,
        "TextIndex.logicalRemove").foreach(writeMeta(s, root, params(m), _))
      FaultInjection.maybeCrash("text.logical.meta")
      if (!ctx.replay) Fingerprint.recordMerge(conf, ctx.indexDir, ctx.rmTag, ctx.vfp)
      FaultInjection.maybeCrash("text.logical.record")
      // the one "leg": the tombstone batch — probes blind from here
      LogicalDelete.write(vids, idCol, ctx.indexDir, ctx.rmTag)
      Fingerprint.clearSourceStatus(conf, ctx.indexDir)
      Fingerprint.clearRemoveState(conf, ctx.indexDir, ctx.rmTag)
    }
  }

  /** Fold the accreted append files: rewrite `bands`/`toks` as one file
    * per partition directory with pure I/O (no re-tokenize, no
    * re-sign), reclaiming tombstoned rows ([[logicalRemove]]) — see
    * [[IndexMaintenance.foldCompact]]. */
  def compact(s: SparkSession, indexDir: String): Unit =
    IndexMaintenance.foldCompact(s, indexDir,
      folds = Seq("bands" -> Seq("hb"), "toks" -> Seq("idb")),
      copies = Seq("meta"))

  /** Flag incoming docs that near-duplicate the INDEXED corpus: the
    * [[Dedup.minhashNearDupsAgainst]] contract (one row per flagged
    * incoming doc, best match by verified Jaccard then ref id), with the
    * reference side read partition-PRUNED from the persisted index.
    *
    * `excludeTag` drops index rows whose ingest-provenance `_src` label
    * equals the given tag — the replay guard for probe-then-append
    * loops: if this very batch was already appended (crash after append,
    * before the caller's commit marker), a re-probe would otherwise flag
    * every doc against its own just-appended copy. Exclusion is by the
    * batch's PROVENANCE, not by incoming id, so a stable-id re-crawl
    * appended by an EARLIER batch still dedups normally — an id-based
    * self-exclusion would silently disable dedup for any source that
    * reuses document ids across dumps. */
  def probe(s: SparkSession, indexDir: String, incoming: DataFrame,
            idCol: String, textCol: String,
            threshold: Double = 0.8,
            excludeTag: Option[String] = None): DataFrame = {
    val root = IndexMaintenance.liveRoot(s.sparkContext.hadoopConfiguration, indexDir)
    val Params(numHashes, bands, nBuckets, seed) = readParams(s, root)
    val incToks = incoming
      .select(col(idCol), Dedup.hashedTokenSet(col(textCol)).as("_toks"))
      .localCheckpoint()
    val incBands = bandRows(incToks, idCol, numHashes, bands, nBuckets, seed)
      .localCheckpoint() // consumed twice: bucket collect + the join
    // bounded collect: at most nBuckets longs — prunes the band scan
    val touchedHb = incBands.select(col("hb")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // Schema resolution: default inference samples ONE footer; on an
    // index mixing pre-_src files with tagged appends it could come back
    // without _src — hiding the appended rows' provenance and silently
    // disabling the replay guard. But an unconditional mergeSchema read
    // merges EVERY file's footer on every probe — a per-micro-batch
    // full-metadata pass on the hot streaming path. So: try the cheap
    // single-footer read; only when the sampled footer lacks _src (the
    // rare mixed-legacy index, which ensure() rebuilds anyway) pay the
    // mergeSchema pass to check whether any appended file carries it.
    val plainBands = s.read.parquet(s"$root/bands")
    val refBandsRead =
      (if (plainBands.columns.contains("_src")) plainBands
       else s.read.option("mergeSchema", "true").parquet(s"$root/bands"))
        .filter(col("hb").isin(touchedHb: _*))
    // fully pre-provenance index (ensure() rebuilds these, but direct
    // probe calls must still resolve): legacy rows are _src = null
    val refBandsAll =
      if (refBandsRead.columns.contains("_src")) refBandsRead
      else refBandsRead.withColumn("_src", lit(null).cast("string"))
    // null-safe (ADVICE r9): on an index mixing pre-_src files with tagged
    // appends, legacy rows read _src = null; `=!=` would evaluate NULL and
    // silently drop the whole pre-upgrade corpus from the probe.
    // Logically-deleted docs leave the reference side HERE (tombstone
    // anti-join): cands and the toks verify are keyed by these refs, so
    // one exclusion point blinds the whole probe.
    val refBands = LogicalDelete.hide(
        excludeTag.fold(refBandsAll)(t =>
          refBandsAll.filter(!(col("_src") <=> lit(t)))),
        idCol, LogicalDelete.ids(s, indexDir))
      .select(col("band"), col("band_hash"),
        col(idCol).as("ref_id"), col("_bh").as("_bh1"))
    val cands = refBands
      .join(incBands.select(col("band"), col("band_hash"),
          col(idCol).as("inc_id"), col("_bh").as("_bh2")),
        Seq("band", "band_hash"))
      .filter(graft.functions.FirstBandMatch(col("_bh1"), col("_bh2")) === col("band"))
      .select(col("inc_id"), col("ref_id"))
      .localCheckpoint() // consumed twice: id-bucket collect + verify join
    // bounded collect again: candidate ref ids' buckets prune the verify scan
    val touchedIdb = cands
      .select(pmod(xxhash64(col("ref_id")), lit(nBuckets.toLong)).as("idb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val refToks = s.read.parquet(s"$root/toks")
      .filter(col("idb").isin(touchedIdb: _*))
      .select(col(idCol).as("ref_id"), col("_toks").as("_tr"))
    Dedup.bestMatches(cands,
      incToks.select(col(idCol).as("inc_id"), col("_toks").as("_ti")), refToks, threshold)
  }
}
