package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent near-dup CLUSTER index — the build-once artifact behind the
  * whole `doc_dedup_clusters` / `doc_leakage_safe_split` /
  * `doc_pipeline_e2e` family (VERDICT r9 item 1). The tokenize →
  * prefix-filtered exact set-similarity join ([[SetSimJoin]]) →
  * connected components ([[ConnectedComponents]]) pass is the most
  * expensive computation in the engine; at 100 TB the `doc_id →
  * component` map is exactly the kind of thing you compute ONCE,
  * fingerprint, and probe — not something every consumer query re-derives.
  *
  * Layout (plain parquet, engine-independent, object-store friendly;
  * every table carries the ingest-provenance `_src` tag as its TOP
  * partition level so an append is a tag-scoped DYNAMIC overwrite —
  * crash-replay of a batch rewrites its own partitions and is therefore
  * exactly-once by construction, the same property the lake side of
  * `indexedDedupStream` gets from batchId-keyed subtrees):
  *
  *  - `<dir>/assign`   (id, component)        PARTITIONED BY (_src, idb)
  *  - `<dir>/toks`     (id, sorted token set) PARTITIONED BY (_src, idb)
  *  - `<dir>/postings` (token, id, set size)  PARTITIONED BY (_src, tb)
  *  - `<dir>/df`       (token, doc freq)      PARTITIONED BY (tb) — frozen
  *  - `<dir>/edges`    (u, v) similarity-graph adjacency log in the
  *    deletion-safe set-node form ([[SetSimJoin.jaccardEdgesWithLog]]:
  *    negative ids are virtual per-distinct-token-set nodes) plus
  *    append-time verified doc-doc pairs — PARTITIONED BY (_src, eb).
  *    [[remove]]'s scoped component re-split reads this log (one
  *    narrow-table pass + the hygiene rewrite) instead of re-running a
  *    PPJoin over the affected components' members: log I/O in place of
  *    a corpus-class similarity join per takedown (31% faster at sf1,
  *    slope 1.76x vs 3.05x — SCALING.md r11). Probes never read it.
  *  - `<dir>/meta`     threshold + bucket count + corpus [[Fingerprint]]
  *
  * [[probe]] assigns INCOMING docs their component under the union
  * corpus EXACTLY, in O(|delta| + touched partitions): the old graph
  * never needs revisiting because contracting each existing component to
  * one super-node is a valid connectivity quotient — every old edge is
  * intra-component by definition, so components of (old ∪ delta) equal
  * components of (quotient nodes = old component reps + new ids, edges =
  * delta-internal near-dup edges + delta→component matches). Component
  * ids stay canonical (min member id) because an old rep IS its
  * component's minimum, so the quotient minimum is the union minimum.
  *
  * Candidate generation against the index is EXACT with a one-sided
  * prefix: if none of the |x| - ceil(t|x|) + 1 chosen tokens of incoming
  * x hit an indexed doc y, then |x∩y| <= ceil(t|x|) - 1 < t|x|, which
  * J(x,y) >= t forbids (J >= t forces overlap >= t·|x| via the size
  * bound |y| >= t|x|). That argument needs NO global token order — any
  * k-subset works — so the index stores FULL postings and the persisted
  * df table is only an EFFICIENCY hint (rarest-first prefixes shrink the
  * candidate join); df staleness after appends can never lose a pair,
  * and new-vocabulary tokens default to df 0 = rarest = chosen first.
  *
  * [[append]] = probe + tag-scoped writes + targeted re-assignment of
  * the (rare) components the delta bridged, + the idempotent-per-batch
  * fingerprint merge ([[IndexMaintenance.append]]). After append,
  * `<dir>/assign` equals a fresh CC over the union corpus —
  * ClusterIndexSpec holds that equivalence including bridge-merge,
  * rep-change, and delta-internal-chain cases.
  *
  * Ids must be integral (CC operates on longs) and UNIQUE across corpus
  * and deltas — the id namespace is the graph's node namespace.
  */
object ClusterIndex {

  private[operators] def sanitize(tag: String): String = Fingerprint.sanitizeTag(tag)

  private[operators] def idb(id: Column, nBuckets: Int): Column =
    pmod(xxhash64(id), lit(nBuckets.toLong))

  private[operators] def tb(tok: Column, nBuckets: Int): Column =
    pmod(tok, lit(nBuckets.toLong))

  private[operators] def tokenize(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), Dedup.hashedTokenSet(col(textCol)).as("_toks"))

  /** One corpus pass: tokenize, exact near-dup edges (prefix-filtered,
    * no O(n²) stage), O(log n)-round CC, then persist assignments +
    * token sets + full postings + the df hint + the fingerprinted meta
    * row. Static overwrite: a rebuild replaces every generation of every
    * table, and [[Fingerprint.clearReplayState]] drops the old
    * generation's replay bookkeeping with it. Tables land in the index's
    * LIVE data root ([[IndexMaintenance.liveRoot]] — `<dir>` until a
    * compaction cutover moves it to `<dir>/g<N>`), under a write lease
    * so a racing compact() fails loudly instead of retiring the tree
    * mid-write. */
  def build(docs: DataFrame, idCol: String, textCol: String, indexDir: String,
            threshold: Double = 0.8, nBuckets: Int = 64): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    val conf0 = s.sparkContext.hadoopConfiguration
    // a rebuild during a pending removal would wipe the replay state
    // (tagfp, the barrier tombstones) the removal's windows depend on —
    // and since r15 window B holds only a WRITE lease, the build's own
    // write lease would no longer exclude it; refuse until the removal
    // replays to completion (pendingRemovals == rmstate dirs)
    Fingerprint.requireNoOtherPendingRemoval(conf0,
      IndexMaintenance.normalize(indexDir), rmTag = "", "ClusterIndex.build")
    IndexMaintenance.withLease(conf0, indexDir, "write") {
    val root = IndexMaintenance.liveRoot(conf0, indexDir)
    val toks = tokenize(docs, idCol, textCol).localCheckpoint()
    // the edge log's sign-based vertex classification needs non-negative
    // doc ids — enforce loudly (one tiny agg against checkpointed toks)
    val minRow = toks.agg(min(col(idCol))).head()
    require(minRow.isNullAt(0) || minRow.getLong(0) >= 0L,
      s"ClusterIndex requires non-negative doc ids (got min " +
        s"${minRow.getLong(0)}): the persisted edge log encodes virtual " +
        "set nodes as negative ids")
    // ONE repGraph pass feeds both the CC input and the persisted log
    val (edges, edgeLog) = SetSimJoin.jaccardEdgesWithLog(
      toks, idCol, "_toks", threshold, salt = "build")
    val cc = ConnectedComponents.components(edges, "id2", "id1",
      edgesNormalized = true)
      .select(col("id").as("_ccid"), col("component").as("_cccomp"))
    val assign = docs.select(col(idCol))
      .join(cc, col(idCol) === col("_ccid"), "left")
      .select(col(idCol),
        coalesce(col("_cccomp"), col(idCol)).as("component"))
    assign
      .withColumn("_src", lit("build")).withColumn("idb", idb(col(idCol), nBuckets))
      .write.mode("overwrite").partitionBy("_src", "idb")
      .parquet(s"$root/assign")
    toks
      .withColumn("_src", lit("build")).withColumn("idb", idb(col(idCol), nBuckets))
      .write.mode("overwrite").partitionBy("_src", "idb")
      .parquet(s"$root/toks")
    val postings = toks
      .select(col(idCol), size(col("_toks")).as("_sz"), explode(col("_toks")).as("_tok"))
    postings
      .withColumn("_src", lit("build")).withColumn("tb", tb(col("_tok"), nBuckets))
      .write.mode("overwrite").partitionBy("_src", "tb")
      .parquet(s"$root/postings")
    postings.groupBy(col("_tok")).agg(count(lit(1)).as("df"))
      .withColumn("tb", tb(col("_tok"), nBuckets))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$root/df")
    // the adjacency log (deletion-safe set-node form; see class doc) —
    // derived from the SAME repGraph pass as the CC input above
    edgeLog
      .withColumn("_src", lit("build")).withColumn("eb", idb(col("u"), nBuckets))
      .write.mode("overwrite").partitionBy("_src", "eb")
      .parquet(s"$root/edges")
    writeMeta(s, root, threshold, nBuckets, Fingerprint.of(docs, Seq(idCol, textCol)))
    Fingerprint.clearReplayState(conf0, indexDir)
    // a rebuild wiped the corpus the tombstones were hiding rows of —
    // surviving entries would wrongly hide the rebuilt corpus' rows
    LogicalDelete.clear(conf0, indexDir)
    // freshness fast-path: record the corpus file statuses LAST — a
    // crash mid-build degrades to the hash scan, never a false fresh
    Fingerprint.writeSourceStatus(conf0, indexDir, Fingerprint.sourceStatus(docs))
    }
  }

  private[operators] def readMeta(snap: IndexSnapshot.Snapshot): (Double, Int) =
    (snap.meta.getAs[Double]("threshold"), snap.meta.getAs[Int]("n_buckets"))

  /** Does the persisted cluster map still describe THIS corpus
    * ([[IndexMaintenance.isFresh]])? Cheap next to the PPJoin+CC pass it
    * guards. */
  def isFresh(s: SparkSession, indexDir: String, corpus: DataFrame,
              idCol: String, textCol: String): Boolean =
    IndexMaintenance.isFresh(s, indexDir, corpus, Seq(idCol, textCol))

  /** Build-once/consume-many entry: (re)build only when absent or stale.
    * A pre-r11 index has no adjacency log — remove() depends on it, so
    * it counts as stale rather than leaving a tree that refuses
    * takedowns. */
  def ensure(docs: DataFrame, idCol: String, textCol: String, indexDir: String,
             threshold: Double = 0.8, nBuckets: Int = 64): Unit = {
    val conf = docs.sparkSession.sparkContext.hadoopConfiguration
    IndexMaintenance.ensureFresh(docs, indexDir, Seq(idCol, textCol), "assign",
      root => { val p = new org.apache.hadoop.fs.Path(s"$root/edges/_SUCCESS")
                !p.getFileSystem(conf).exists(p) }) {
      build(docs, idCol, textCol, indexDir, threshold, nBuckets)
    }
  }

  /** The persisted `(id, component)` map — what every consumer reads
    * instead of re-running PPJoin+CC.
    *
    * Serve-time bridge-split (r15): while logical-delete tombstones pend,
    * the components the victims belong to are re-split READ-ONLY from the
    * persisted adjacency log — the same [[resplitPlan]] the physical
    * remove and compact()'s reclaim execute — so the served map equals a
    * fresh CC over the survivors from the moment logicalRemove returns.
    * Correctness therefore never requires an in-path compact(); the
    * physical reclaim stays the amortized maintenance pass it is in
    * production. Cost shape: the no-tombstone fast path is unchanged
    * (ONE FS metadata call); with tombstones pending the re-split is
    * served from the OVERLAY [[logicalRemove]] persisted (one tiny
    * parquet read — reads stay pure, so any number of concurrent
    * consumers pay O(overlay rows), not O(affected edges) each), and
    * recomputed live only when the overlay is missing or stale — a
    * crash before the overlay write, or an append since (appends can
    * re-bridge split survivors through fresh docs, so the overlay's
    * recorded corpus fingerprint must equal meta's to be served). */
  def assignments(s: SparkSession, indexDir: String, idCol: String): DataFrame = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = IndexMaintenance.liveRoot(conf, indexDir)
    val base = s.read.parquet(s"$root/assign").select(col(idCol), col("component"))
    val batches = LogicalDelete.pendingBatches(conf, indexDir)
    LogicalDelete.idsOf(s, indexDir, batches) match {
      case None => base
      case Some(t) =>
        val keys = TargetedDelete.Keys.of(
          t.select(col(LogicalDelete.idColOf(t)).as(idCol)), idCol)
        val newAssign = ClusterResplit.readOverlay(s, root, indexDir, idCol, batches)
          .getOrElse {
            val (_, nBuckets) = readMeta(IndexSnapshot.at(s, indexDir, root))
            val vIdb = keys.mapDistinct(idb(_, nBuckets)).map(_.asInstanceOf[Long])
            ClusterResplit.resplitPlan(s, root, idCol, keys, vIdb)._2
          }
        // same fold as compact()'s reclaim: drop victims, remap survivors
        // of their components, everyone else passes through untouched
        keys.anti(base, idCol)
          .join(newAssign, Seq(idCol), "left")
          .withColumn("component", coalesce(col("_newcomp"), col("component")))
          .drop("_newcomp")
    }
  }

  /** Assign incoming docs their exact union-corpus component without
    * touching the index — the read-only probe. Docs near-duplicating
    * nothing are singletons (component = own id); docs bridging existing
    * clusters get the merged minimum, exactly what a fresh CC over
    * (indexed corpus ∪ incoming) assigns them. */
  def probe(s: SparkSession, indexDir: String, incoming: DataFrame,
            idCol: String, textCol: String,
            excludeTag: Option[String] = None): DataFrame =
    ClusterServe.probeParts(s, IndexSnapshot(s, indexDir),
      incoming, idCol, textCol, excludeTag,
      LogicalDelete.ids(s, indexDir), salt = "probe")._1

  /** Which of `ids` does the index already hold an assignment for
    * ([[IndexMaintenance.knownIds]] over `assign`)? */
  def knownIds(s: SparkSession, indexDir: String, ids: DataFrame,
               idCol: String, excludeTag: Option[String] = None): DataFrame =
    IndexMaintenance.knownIds(s, indexDir, "assign", ids, idCol, excludeTag)

  /** Fold marker-COMMITTED append generations back into the `build`
    * generation — the small-files lifecycle valve for a long-running
    * ingest stream. Each streaming batch appends its own `_src=<tag>`
    * partition tree to assign/toks/postings (up to `nBuckets` files per
    * table per batch), so a year of micro-batches accretes O(batches ×
    * buckets) files per table; compaction rewrites each table as one
    * file per partition directory with PURE I/O — no tokenize, no
    * PPJoin, no CC — which is what distinguishes it from a [[build]]
    * (the recompute path).
    *
    * Which generations fold: only tags whose `applied/` marker exists —
    * the streaming loop's commit point, after which that batch can never
    * re-run its body (the marker check runs first on replay). An
    * appended-but-UNMARKERED batch is the crash-window replay candidate:
    * relabeling its rows to `build` would break its excludeTag re-probe
    * (every id would read as already-known, the replay would append an
    * empty delta, and the tag-reuse guard would then crash-loop the
    * stream), so those generations keep their provenance. Direct
    * [[append]] callers have no markers; when the operator KNOWS none of
    * those tags can ever replay (every append call returned), pass
    * `foldUnmarkedTags = true` to fold everything.
    *
    * Also preserved exactly: row contents, the meta row (threshold,
    * buckets, the corpus-of-record fingerprint — so [[isFresh]] answers
    * unchanged), and the replay-protection state (`applied/` markers and
    * `tagfp/` records copy verbatim, so a restarted stream still skips
    * its committed batches and a reused old tag is still refused). The
    * build-time source-status record is NOT carried over (appends
    * already cleared it; freshness falls back to the content-hash
    * authority).
    *
    * Cutover and crash window: see [[IndexMaintenance]] — the folded
    * tables are staged in the next generation directory and go live via
    * a single generation-pointer write (no directory rename, object-
    * store safe); a crash before the flip leaves the old generation
    * live and the staged tree inert. Quiescence is ENFORCED: compact
    * holds the compact lease, so a racing build/append fails loudly. */
  def compact(s: SparkSession, indexDir0: String,
              foldUnmarkedTags: Boolean = false): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val indexDir = IndexMaintenance.normalize(indexDir0)
    val ctx = IndexMaintenance.beginCompact(conf, indexDir)
    // snapshot the pending tombstone set ONCE, under the compact lease:
    // the trailing cleanup clears exactly these batches, never a batch a
    // post-flip logicalRemove added after the lease freed
    // (review-caught r13)
    val reclaimBatches = LogicalDelete.pendingBatches(conf, indexDir)
    try {
      // marker names are raw tags; _src partition values are sanitized —
      // compare in sanitized space (identical for streaming-loop tags)
      val committed = IndexMaintenance.committedTags(conf, indexDir)
        .map(sanitize).toSeq
      val foldSrc: Column =
        if (foldUnmarkedTags) lit("build")
        else when(col("_src").isin(committed: _*)
            || col("_src") === "build", lit("build"))
          .otherwise(col("_src"))
      // ---- tombstone RECLAIM ([[LogicalDelete]], VERDICT r12 item 1):
      // the victims' rows ride OUT on the rewrite this fold was doing
      // anyway (zero extra I/O), and the survivors of the components
      // they held together are remapped per the same re-split plan the
      // physical remove computes — discovered here from the from-root,
      // which the fold never mutates, so a crashed compact replays the
      // identical plan. Tombstones clear only AFTER the cutover. ----
      val (_, nBuckets) = readMeta(IndexSnapshot.at(s, indexDir, ctx.fromRoot))
      val tomb =
        LogicalDelete.idsOf(s, indexDir, reclaimBatches)
      val reclaim = tomb.map { t =>
        // the id column name rides in the tombstone frame itself —
        // whatever the builder passed to logicalRemove
        val idCol = LogicalDelete.idColOf(t)
        val keys = TargetedDelete.Keys.of(t, idCol)
        val vIdb = keys.mapDistinct(idb(_, nBuckets)).map(_.asInstanceOf[Long])
        val (_, newAssign) = ClusterResplit.resplitPlan(s, ctx.fromRoot, idCol, keys, vIdb)
        (idCol, keys, newAssign)
      }
      def dropVictims(df: DataFrame): DataFrame = reclaim.fold(df) {
        case (idCol, keys, _) => keys.anti(df, idCol)
      }
      def fold(table: String, bucketCol: String,
               transform: DataFrame => DataFrame = identity): Unit =
        IndexMaintenance.foldTable(s, ctx.fromRoot, ctx.stagingRoot, table,
          Seq("_src", bucketCol), remap = Map("_src" -> foldSrc),
          transform = transform)
      // edges fold COLLAPSES the log to the live graph (VERDICT r12
      // item 3): on continuous ingest the raw log grows with HISTORY —
      // every batch adds its own salted set nodes plus one verified
      // doc-doc row per (delta doc x indexed near-dup), so the re-split
      // leg's cost creeps with ingest count, not corpus size. The fold
      // re-keys every folding set node by its token-set CONTENT
      // (recomputed from the toks table — all members of a node share
      // one set by construction), merges equivalent nodes across
      // batches, and converts the accumulated doc-doc pairs into
      // canonical set-set edges: J(x, ref) >= t IS J(S_x, S_ref) >= t
      // on their token sets, so the conversion preserves exact
      // connectivity AND the deletion-safe one-sided layout (a set is
      // live iff >= 1 member row survives; a set-set edge links every
      // member pair directly). A corpus built+appended N times folds to
      // the SAME edge count as one fresh build (ClusterIndexSpec).
      // Dangling-set GC is subsumed: a set with no surviving member has
      // no canonical mapping and its edges drop in the joins.
      // UNMARKERED batches keep their rows verbatim (minus their own
      // dangling set-set rows) — a crash-window replay dynamic-
      // overwrites its _src partitions, so folding them would be wrong.
      // Pre-r11 indexes have no edges table (ADVICE r11): skip the fold
      // — mirroring ensure()'s edgesOk handling, which already treats
      // such trees as rebuild-needed for remove() purposes — instead of
      // hard-failing a compaction of an otherwise-valid index. Detection
      // is by DIRECTORY, not the _SUCCESS marker: a deployment that
      // disables marksuccessfuljobs (common object-store tuning) must
      // not get its healthy edges table silently dropped — and then
      // GC'd with the retired generations — by a marker-only probe.
      val edgesDir = new org.apache.hadoop.fs.Path(s"${ctx.fromRoot}/edges")
      val edgesFs = edgesDir.getFileSystem(conf)
      val legacyNoEdges =
        !edgesFs.exists(edgesDir) || edgesFs.listStatus(edgesDir).isEmpty
      val edgesTransform: DataFrame => DataFrame = { dfIn =>
          // reclaim hygiene first: a tombstoned id must leave the log
          // (either endpoint), exactly as remove()'s deleteAnyKey pass —
          // the member-row drop then feeds the canonicalization below
          val df0 = reclaim.fold(dfIn) { case (_, keys, _) =>
            Seq("u", "v").foldLeft(dfIn)(keys.anti)
          }
          // one physical pass feeds every branch (same rescan fix as
          // remove()'s survivor-subgraph frames). This frame and the four
          // below are EAGER: each feeds sibling stages of the one write
          // query, which run as concurrent jobs, and a lazy frame two
          // jobs materialize at once logs "Failed to update accumulator"
          // ERROR traces and can fail a job submission on the lineage the
          // other job's checkpoint just cut (seen with a GC forced at
          // every job end)
          val df = df0.localCheckpoint()
          val foldsToBuild =
            if (foldUnmarkedTags) lit(true)
            else col("_src").isin(committed: _*) || col("_src") === "build"
          val folding = df.filter(foldsToBuild)
          val kept = df.filter(!foldsToBuild)
          // canonical node id = content hash of the members' token set;
          // "fold"-salted, so a SECOND compact maps them to themselves
          // (idempotent) and a removed-then-reingested id still never
          // aliases (the new text hashes differently)
          val toksTable = s.read.parquet(s"${ctx.fromRoot}/toks")
          val tokId = toksTable.schema.fieldNames
            .filterNot(Set("_toks", "_src", "idb")).head
          val docHash = toksTable.select(col(tokId).as("v"),
            xxhash64(col("_toks")).as("_th"))
          val members0 = folding.filter(col("u") < 0 && col("v") >= 0)
          val canon = members0.join(docHash, Seq("v"))
            .select(col("u"),
              (-(xxhash64(lit("fold"), col("_th"))
                .bitwiseAND(lit(Long.MaxValue))) - 1).as("_cn"))
            .distinct().localCheckpoint()
          val members = members0.join(canon, Seq("u"))
            .select(col("_cn").as("u"), col("v")).distinct()
            .localCheckpoint() // feeds the union AND docCn
          val setSet = folding.filter(col("u") < 0 && col("v") < 0)
            .join(canon, Seq("u"))
            .join(canon.select(col("u").as("v"), col("_cn").as("_cnv")), Seq("v"))
            .select(least(col("_cn"), col("_cnv")).as("u"),
              greatest(col("_cn"), col("_cnv")).as("v"))
          val docCn = members.select(col("v").as("_doc"), col("u").as("_dcn"))
          val dd = folding.filter(col("u") >= 0 && col("v") >= 0)
            .join(docCn.select(col("_doc").as("u"), col("_dcn").as("_cu")),
              Seq("u"), "left")
            .join(docCn.select(col("_doc").as("v"), col("_dcn").as("_cv")),
              Seq("v"), "left")
            .localCheckpoint() // feeds converted + kept legs
          val ddAsSet = dd
            .filter(col("_cu").isNotNull && col("_cv").isNotNull)
            .select(least(col("_cu"), col("_cv")).as("u"),
              greatest(col("_cu"), col("_cv")).as("v"))
          // co-members (same canonical set) are already connected by
          // their member rows; cross-set pairs dedup with the remapped
          // set-set edges in ONE distinct
          val pairEdges = setSet.unionByName(ddAsSet)
            .filter(col("u") =!= col("v")).distinct()
          // a doc-doc endpoint without a member row cannot occur for a
          // verified J>=t pair (empty sets never verify), but a left
          // join + verbatim keep is cheaper than proving it forever
          val ddKept = dd.filter(col("_cu").isNull || col("_cv").isNull)
            .select(col("u"), col("v"))
          val canonEdges = members.unionByName(pairEdges).unionByName(ddKept)
            .withColumn("_src", lit("build"))
            .withColumn("eb", idb(col("u"), nBuckets))
          // kept (unmarkered) side: verbatim minus its own dangling
          // set-set rows — its salted nodes are batch-local, so the
          // liveness rule closes over the kept rows alone
          val keptLive = kept.filter(col("u") < 0 && col("v") >= 0)
            .select(col("u")).distinct().localCheckpoint()
          val keptClean = kept.filter(!(col("u") < 0 && col("v") < 0))
            .unionByName(kept.filter(col("u") < 0 && col("v") < 0)
              .join(keptLive, Seq("u"), "leftsemi")
              .join(keptLive.select(col("u").as("v")), Seq("v"), "leftsemi"))
          canonEdges.unionByName(
            keptClean.select(canonEdges.columns.map(col): _*))
        }
      // the six staged-table writes are INDEPENDENT — each reads only
      // the immutable from-root (plus its own plan frames) and writes
      // its own staging subdir — so they run concurrently (r13, the
      // same shape as remove()'s parallel legs): the fold's wall drops
      // from the sum of six table rewrites to the slowest one, which is
      // exactly what the reclaim path of
      // doc_cluster_index_logical_remove clocks.
      IndexMaintenance.runLegs(Seq(
        "compact.assign" -> (() => fold("assign", "idb", df => reclaim.fold(df) {
          case (idCol, keys, newAssign) =>
            keys.anti(df, idCol)
              .join(newAssign, Seq(idCol), "left")
              .withColumn("component", coalesce(col("_newcomp"), col("component")))
              .drop("_newcomp")
        })),
        "compact.toks" -> (() => fold("toks", "idb", dropVictims)),
        "compact.postings" -> (() => fold("postings", "tb", dropVictims)),
        "compact.edges" -> (() => if (!legacyNoEdges)
          IndexMaintenance.foldTable(s, ctx.fromRoot, ctx.stagingRoot, "edges",
            Seq("_src", "eb"), remap = Map("_src" -> foldSrc),
            transform = edgesTransform)),
        "compact.df" -> (() =>
          IndexMaintenance.foldTable(s, ctx.fromRoot, ctx.stagingRoot, "df", Seq("tb"))),
        "compact.meta" -> (() =>
          IndexMaintenance.copyTable(s, ctx.fromRoot, ctx.stagingRoot, "meta"))))
    } catch {
      case t: Throwable => IndexMaintenance.abortCompact(conf, ctx); throw t
    }
    IndexMaintenance.finishCompact(conf, ctx,
      legacyTables = Seq("assign", "toks", "postings", "df", "edges", "meta"))
    // reclaim bookkeeping: the retired generation still holds the
    // victims' bytes (right-to-be-forgotten beats reader grace), and
    // the tombstones clear only now that the reclaimed tree is LIVE —
    // a crash between the flip and here leaves no-op tombstones (their
    // ids match nothing) that the next compact clears. Clears ONLY the
    // lease-time snapshot: a logicalRemove racing in after finishCompact
    // freed the lease keeps its new batch pending.
    if (reclaimBatches.nonEmpty) {
      IndexMaintenance.purgeRetired(conf, indexDir,
        Seq("assign", "toks", "postings", "df", "edges", "meta"))
      LogicalDelete.clearBatches(conf, indexDir, reclaimBatches)
    }
    // the folded tree describes the same corpus of record: re-recording
    // would be wrong only if the corpus moved, which the fingerprint
    // still guards — nothing else to do here
  }

  /** Index-side targeted DELETE — the right-to-be-forgotten contract
    * reaching the persisted index. Protocol, crash-safety, and the
    * staged A/B/C window design live on [[ClusterRemoval.remove]]
    * (r16 module split); this facade entry is the public surface. */
  def remove(victims: DataFrame, idCol: String, textCol: String,
             indexDir: String, tag: String = "remove"): Unit =
    ClusterRemoval.remove(victims, idCol, textCol, indexDir, tag)

  /** LOGICAL targeted delete — the RTBF fast path (tombstone +
    * persisted serve-overlay, no table rewrite; reclaim at the next
    * [[compact]]). Protocol docs on [[ClusterRemoval.logicalRemove]]. */
  def logicalRemove(victims: DataFrame, idCol: String, textCol: String,
                    indexDir: String, tag: String = "remove"): Unit =
    ClusterRemoval.logicalRemove(victims, idCol, textCol, indexDir, tag)

  /** O(|delta|) maintenance — `tag` must be BATCH-UNIQUE (the streaming
    * loops use ck<runKey>_b<batchId>): writes are tag-scoped dynamic
    * overwrites, so a DIFFERENT batch under a used tag would destroy the
    * earlier batch's rows; append() refuses that loudly
    * ([[IndexMaintenance.admitOverwriteTag]]), re-admitting only the
    * exact same (tag, delta) pair — the crash-replay.
    *
    * Probe (excluding this batch's own tag, so a
    * crash-replay behaves like the first run), write the delta's rows
    * tag-scoped (dynamic overwrite — replay rewrites the same partitions,
    * exactly-once), re-assign the members of any bridged components, and
    * merge the fingerprint once per (tag, delta) pair
    * ([[IndexMaintenance.append]]). Post-condition (ClusterIndexSpec):
    * `assign` == fresh CC over the union corpus. */
  def append(delta: DataFrame, idCol: String, textCol: String,
             indexDir: String, tag: String = "append"): DataFrame =
    IndexMaintenance.append(delta, indexDir, tag, "write",
        Seq(idCol, textCol), "cluster") { ctx =>
    val s = delta.sparkSession
    val root = ctx.root
    val nBuckets = ctx.meta.getAs[Int]("n_buckets")
    // "build" is the build generation's own _src value: excludeTag =
    // Some("build") would also exclude the whole build corpus from the
    // probe — near-dups of indexed docs would silently go unflagged
    // (ADVICE r10), and compact() folds committed generations into
    // _src=build, widening the exposure
    IndexMaintenance.admitOverwriteTag(ctx, tag, "ClusterIndex.append")
    val tagS = sanitize(tag)
    val (assignInc, merges, toksD, matchPairs, deltaSets) = ClusterServe.probeParts(s,
      IndexSnapshot.at(s, ctx.indexDir, root), delta, idCol, textCol,
      excludeTag = Some(tag), ctx.tomb, salt = tagS)
    // id-sign guard BEFORE any write (review-caught twice: a post-write
    // check would leave a rejected delta's rows committed, and an EMPTY
    // delta — a re-crawl-only streaming batch — aggregates min to null,
    // which must be a no-op, not an NPE): the edge log's sign-based
    // vertex classification needs non-negative doc ids
    val minRow = toksD.agg(min(col(idCol))).head()
    require(minRow.isNullAt(0) || minRow.getLong(0) >= 0L,
      s"ClusterIndex requires non-negative doc ids (got min " +
        s"${minRow.getLong(0)}): the persisted edge log encodes virtual " +
        "set nodes as negative ids")
    // materialize BEFORE any write mutates the partitions they were read
    // from (the dynamic overwrites below touch the same tables; toksD is
    // probeParts' already-checkpointed tokenization — not recomputed)
    val assignD = assignInc.localCheckpoint()
    val mergeMap = merges.localCheckpoint() // bounded: <= touched components
    def dynOverwrite(df: DataFrame, parts: Seq[String], path: String): Unit =
      df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(parts: _*).parquet(path)
    dynOverwrite(
      toksD.withColumn("_src", lit(tagS)).withColumn("idb", idb(col(idCol), nBuckets)),
      Seq("_src", "idb"), s"$root/toks")
    dynOverwrite(
      toksD.select(col(idCol), size(col("_toks")).as("_sz"), explode(col("_toks")).as("_tok"))
        .withColumn("_src", lit(tagS)).withColumn("tb", tb(col("_tok"), nBuckets)),
      Seq("_src", "tb"), s"$root/postings")
    dynOverwrite(
      assignD.withColumn("_src", lit(tagS)).withColumn("idb", idb(col(idCol), nBuckets)),
      Seq("_src", "idb"), s"$root/assign")
    // adjacency-log maintenance: the delta's own connectivity in the
    // deletion-safe set-node form + every verified delta->indexed pair
    // (matchPairs is pair-distinct — cands was). Tag-scoped dynamic
    // overwrite like the other tables: replay rewrites its partitions.
    // salted by this batch's tag so a re-ingested id can never re-create
    // an earlier generation's node id (probeParts' repGraph pass, whose
    // frames its CC input already materialized)
    val deltaEdges = deltaSets
      .unionByName(matchPairs.select(
        least(col("_inc"), col("_ref")).as("u"),
        greatest(col("_inc"), col("_ref")).as("v")))
    dynOverwrite(
      deltaEdges.withColumn("_src", lit(tagS))
        .withColumn("eb", idb(col("u"), nBuckets)),
      Seq("_src", "eb"), s"$root/edges")
    // targeted re-assignment of bridged components: rewrite ONLY the
    // partitions that hold a loser's members. Reading the affected rows
    // is one predicate-pushed scan of the (id, component) map — orders
    // of magnitude cheaper than the PPJoin+CC recompute it replaces.
    // partition-dir values read back type-inferred (idb=5 -> INT):
    // cast before collecting
    val affected = s.read.parquet(s"$root/assign")
      .join(broadcast(mergeMap), col("component") === col("loser"))
      .select(col("_src"), col("idb").cast("long")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (affected.nonEmpty) {
      val srcs = affected.map(_._1).distinct.toSeq
      val idbs = affected.map(_._2).distinct.toSeq
      val rewritten = s.read.parquet(s"$root/assign")
        .filter(col("_src").isin(srcs: _*) && col("idb").isin(idbs: _*))
        .join(broadcast(mergeMap), col("component") === col("loser"), "left")
        .select(col(idCol), coalesce(col("winner"), col("component")).as("component"),
          col("_src"), col("idb"))
        .localCheckpoint() // fully read before its source partitions are replaced
      dynOverwrite(rewritten, Seq("_src", "idb"), s"$root/assign")
    }
    // the delta's assignments AS OF THIS APPEND (already materialized —
    // safe to consume after the overwrites): the streaming loop's
    // per-batch output. The index's assign table stays authoritative;
    // a later batch that bridges can amend components there.
    assignD
    } { (ctx, fp) =>
      writeMeta(delta.sparkSession, ctx.root,
        ctx.meta.getAs[Double]("threshold"), ctx.meta.getAs[Int]("n_buckets"), fp)
    }

  private[operators] def writeMeta(s: SparkSession, root: String,
                                   threshold: Double, nBuckets: Int,
                                   fp: (Long, Long)): Unit = {
    import s.implicits._
    Seq((threshold, nBuckets, fp._1, fp._2))
      .toDF("threshold", "n_buckets", "n_rows", "content_hash")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
  }
}
