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
  // `carry` keeps more input columns on every band row (the probe's `_toks`)
  private[graft] def bandRows(toks: DataFrame, idCol: String, numHashes: Int,
                              bands: Int, nBuckets: Int, seed: Int,
                              carry: Seq[String] = Nil): DataFrame =
    toks
      .select((idCol +: carry).map(col) :+
        graft.functions.MinHashBands(col("_toks"), numHashes, bands, seed).as("_bh"): _*)
      .select(col("*"), posexplode_outer(col("_bh")).as(Seq("band", "band_hash")))
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

  /** A removal's victims under the frozen parameters: the capture, the
    * id buckets (driver-side for a key set) and, on demand, the band
    * buckets of the victims' token sets — one job. A victim's token set
    * equals its indexed one (the first attempt's known-check pins it, a
    * replay re-admits the same rows), so the bands prune is exact. */
  private final class Victims(val v: IndexMaintenance.Victims, textCol: String,
                              val p: Params) {
    def idCol: String = v.idCol
    val vIdb: Seq[Any] = v.keys.mapDistinct(c => pmod(xxhash64(c), lit(p.nBuckets.toLong)))
    lazy val bandBuckets: Seq[Long] = IndexMaintenance.distinctRows(
        bandRows(v.rows.select(col(idCol), Dedup.hashedTokenSet(col(textCol)).as("_toks")),
          idCol, p.numHashes, p.bands, p.nBuckets, p.seed).select(col("hb")))
      .map(_.getLong(0))
  }

  /** The victim set of a removal; None when it is empty. */
  private def victimsOf(ctx: IndexMaintenance.RemovalCtx, v: IndexMaintenance.Victims,
                        textCol: String): Option[Victims] =
    Some(new Victims(v, textCol, params(ctx.meta))).filter(_.v.keys.n > 0L)

  /** The one victim check of both removal verbs, run on a first attempt
    * only ([[IndexMaintenance.RemovalCtx.firstAttempt]]), in ONE job
    * ([[TargetedDelete.checkVictims]]) over the
    * victims' rows and their pruned slices of `toks` and `bands`:
    *  - per victim id, the stored token-set hashes must EQUAL the victim
    *    rows' (r14): the delete is id-keyed, so a partial victim set
    *    would subtract a fingerprint that diverges from the rows
    *    actually removed, poisoning isFresh forever;
    *  - victims whose append crashed MID-append (rows landed, fingerprint
    *    merge never recorded) must not subtract — their delta was never
    *    added. The band rows' provenance is checked, bounded by |tags|;
    *    only meaningful on fingerprinted indexes (pre-provenance rows
    *    read `_src` null = build-era). */
  private def validateVictims(ctx: IndexMaintenance.RemovalCtx, v: Victims,
                              textCol: String, opName: String): Unit = {
    val keys = v.v.keys
    val guard = IndexMaintenance.fingerprintOf(ctx.meta).isDefined
    val toks = keys.semi(ctx.snapshot.table("toks").filter(col("idb").isin(v.vIdb: _*)), v.idCol)
    val rows = Seq(
      TargetedDelete.digestRow(v.v.rows, "v", v.idCol, lit(1L),
        xxhash64(Dedup.hashedTokenSet(col(textCol)))),
      TargetedDelete.digestRow(toks, "s", v.idCol, lit(1L), xxhash64(col("_toks")))) ++
      (if (!guard) Nil else Seq(TargetedDelete.digestRow(
        keys.semi(ctx.snapshot.withSrc("bands").filter(col("hb").isin(v.bandBuckets: _*)),
          v.idCol), "b", v.idCol, lit(0L), lit(0L), col("_src"))))
    val srcs = TargetedDelete.requireKnownSets(rows.reduce(_ unionByName _), v.idCol, keys, opName)
    if (guard) Fingerprint.requireRecordedProvenance(ctx.conf, ctx.indexDir, srcs, opName)
  }

  /** Index-side targeted DELETE (VERDICT r10 item 1): drop `victims`
    * from both tables so probes stop matching right-to-be-forgotten
    * docs, and subtract their contribution from the meta fingerprint so
    * [[isFresh]] tracks the surviving corpus of record. `victims` must
    * carry the EXACT `(id, text)` rows as ingested (read them from the
    * lake before scrubbing it) and every id must be indexed — checked
    * before anything mutates. The commit is the shared rows-first one
    * ([[IndexMaintenance.removal]]); the rows are two pruned rewrites,
    * band buckets computed from the victims' token sets under the
    * frozen hash family, so the prune is exact. Removes duplicate rows
    * from crashed append replays too — removal is by id, not by row. */
  def remove(victims: DataFrame, idCol: String, textCol: String,
             indexDir: String, tag: String = "remove"): Unit =
    remove(IndexMaintenance.Victims(victims, Seq(idCol, textCol)), textCol, indexDir, tag)

  /** [[remove]] of captured victims (an RTBF purge's shared capture). */
  private[graft] def remove(victims: IndexMaintenance.Victims, textCol: String,
                            indexDir: String, tag: String): Unit =
    IndexMaintenance.removal(victims, indexDir, tag,
        "TextIndex.remove", "text") { ctx =>
      val s = victims.rows.sparkSession
      // pending logical deletions must reclaim first (their victims would
      // read as indexed rows here) — see [[LogicalDelete]]
      LogicalDelete.requireNonePending(ctx.conf, ctx.indexDir, "TextIndex.remove")
      victimsOf(ctx, victims, textCol).map { v =>
        if (ctx.firstAttempt) validateVictims(ctx, v, textCol, "TextIndex.remove")
        val stateDir = Fingerprint.removeStatePath(ctx.indexDir, ctx.rmTag)
        // the victims' band buckets join the commit record as plan state,
        // so a replay prunes the bands rewrite exactly as the first
        // attempt did. Presence is an explicit fs.create'd marker
        // (ClusterIndex's PLAN_READY protocol) or surviving part files —
        // NOT _SUCCESS, which deployments disable
        // (mapreduce.fileoutputcommitter.marksuccessfuljobs=false is
        // common object-store tuning). An existing plan is never
        // overwritten; an absent one is recomputed, which a replay can do
        // only before the rows step (plan first, then `.state`).
        val vhbDir = new org.apache.hadoop.fs.Path(s"$stateDir/vhb")
        val vhbMarker = new org.apache.hadoop.fs.Path(s"$stateDir/VHB_READY")
        val vhbFs = vhbMarker.getFileSystem(ctx.conf)
        val vhbPresent = vhbFs.exists(vhbMarker) ||
          (vhbFs.exists(vhbDir) && vhbFs.listStatus(vhbDir)
            .exists(st => st.isFile && st.getPath.getName.startsWith("part-")))
        IndexMaintenance.RemovalCommit(
          plan = () => {
            if (!vhbPresent) {
              import s.implicits._
              v.bandBuckets.toDF("hb").coalesce(1)
                .write.mode("overwrite").parquet(vhbDir.toString)
            }
            if (!vhbFs.exists(vhbMarker)) vhbFs.create(vhbMarker, true).close()
          },
          rows = () => {
            // when THIS call just wrote the plan, the in-memory list IS
            // its content (r18 opt); a replay that found an existing plan
            // reads the file of record
            val vHb =
              if (!vhbPresent) v.bandBuckets
              else s.read.parquet(vhbDir.toString).collect().map(_.getLong(0)).toSeq
            def leg(table: String, part: String, buckets: Seq[Any]): () => Unit = () => {
              TargetedDelete.deleteKeys(s, s"${ctx.root}/$table", Seq(part), v.idCol,
                victims.keys, col(part).isin(buckets: _*), Some(ctx.snapshot.schema(table)))
              (): Unit
            }
            IndexMaintenance.runLegs(Seq(
              "text.bands" -> leg("bands", "hb", vHb),
              "text.toks" -> leg("toks", "idb", v.vIdb)))
          },
          writeMeta = writeMeta(s, ctx.root, params(ctx.meta), _),
          retired = Seq("bands", "toks", "meta"))
      }
    }

  /** LOGICAL targeted delete (VERDICT r12 item 1) — the RTBF fast path:
    * the same victim check and the same rows-first commit as [[remove]],
    * but the only row mutation is one small tombstone-batch write under
    * `<indexDir>/deleted/` — O(victims), no band/toks rewrite. [[probe]]
    * is blind to the victims the moment this returns; the rows are
    * physically reclaimed by the next [[compact]] (see [[LogicalDelete]]
    * — tombstoned ids are dead to appends until then). `victims` must
    * carry the EXACT `(id, text)` rows as ingested; tags share the
    * remove namespace. */
  def logicalRemove(victims: DataFrame, idCol: String, textCol: String,
                    indexDir: String, tag: String = "remove"): Unit =
    logicalRemove(IndexMaintenance.Victims(victims, Seq(idCol, textCol)), textCol,
      indexDir, tag)

  /** [[logicalRemove]] of captured victims. */
  private[graft] def logicalRemove(victims: IndexMaintenance.Victims, textCol: String,
                                   indexDir: String, tag: String): Unit =
    IndexMaintenance.removal(victims, indexDir, tag,
        "TextIndex.logicalRemove", "text.logical") { ctx =>
      victimsOf(ctx, victims, textCol).map { v =>
        if (ctx.firstAttempt) {
          LogicalDelete.requireNotTombstoned(ctx.indexDir, victims.keys,
            "TextIndex.logicalRemove")
          validateVictims(ctx, v, textCol, "TextIndex.logicalRemove")
        }
        IndexMaintenance.RemovalCommit(
          rows = () => ctx.tombstone(victims.keys.frame, v.idCol),
          writeMeta = writeMeta(victims.rows.sparkSession, ctx.root, params(ctx.meta), _))
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
    val snap = IndexSnapshot(s, indexDir)
    val Params(numHashes, bands, nBuckets, seed) = params(snap.meta)
    // ONE checkpoint of the incoming side, consumed by the bucket
    // collect, the join and the verify: the band rows carry the token
    // sets, and band 0 holds each incoming doc once
    val incBands = bandRows(
        incoming.select(col(idCol), Dedup.hashedTokenSet(col(textCol)).as("_toks")),
        idCol, numHashes, bands, nBuckets, seed, carry = Seq("_toks"))
      .localCheckpoint()
    val incToks = incBands.filter(col("band") === 0).select(col(idCol), col("_toks"))
    // bounded collect: at most nBuckets longs — prunes the band scan
    val touchedHb = IndexMaintenance.distinctRows(incBands.select(col("hb"))).map(_.getLong(0))
    val refBandsAll = snap.withSrc("bands").filter(col("hb").isin(touchedHb: _*))
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
      // lazy: the id-bucket collect below materializes it, and the
      // verify join reuses it
      .localCheckpoint(eager = false)
    // bounded collect again: candidate ref ids' buckets prune the verify scan
    val touchedIdb = IndexMaintenance.distinctRows(
        cands.select(pmod(xxhash64(col("ref_id")), lit(nBuckets.toLong))))
      .map(_.getLong(0))
    val refToks = snap.table("toks")
      .filter(col("idb").isin(touchedIdb: _*))
      .select(col(idCol).as("ref_id"), col("_toks").as("_tr"))
    Dedup.bestMatches(cands,
      incToks.select(col(idCol).as("inc_id"), col("_toks").as("_ti")), refToks, threshold)
  }
}
