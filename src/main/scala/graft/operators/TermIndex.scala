package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 retrieval index — the fourth index family: build the
  * tf/df/dl statistics ONCE, serve ranked lexical retrieval many times,
  * maintain incrementally. The closed-form scorer (`TextPipeline
  * .bm25TopK`, Robertson/Spärck Jones BM25 with the positive ln idf)
  * recomputes the whole fan-out per call; at corpus scale the tf pass
  * is the dominant cost and is exactly what never changes between
  * queries, so it belongs on disk with the same lifecycle as the other
  * three families (generations, leases, fingerprint freshness, logical
  * deletes, compaction).
  *
  * Layout under the live data root ([[IndexMaintenance.liveRoot]]):
  *  - `postings(id, term, tf)` partitioned by `(_src, tb)` where
  *    `tb = pmod(xxhash64(term), nBuckets)`: a term's postings all live
  *    in one bucket, so a query touches only its own terms' buckets —
  *    the bounded-collect static-partition-filter recipe the other
  *    families use (at 100 TB a 5-term query reads 5 buckets, never the
  *    corpus).
  *  - `dl(id, dl)` partitioned by `(_src, idb)` — per-document token
  *    counts, read at query time only for the CANDIDATE docs' buckets
  *    (a bounded collect of the candidates' idb values turns the join
  *    read into a static partition filter, like the postings read).
  *  - `meta(n_buckets, n_rows, content_hash, sum_dl)` — parameters, the
  *    corpus fingerprint, and the corpus token total. N (= `n_rows`,
  *    the fingerprint's own row count) and `sum_dl` give avgdl WITHOUT
  *    an O(corpus) dl aggregate per query batch — the last corpus-sized
  *    serve-path stage before r16. Both are additive, so they ride the
  *    fingerprint's exactly-once commit that every family's append and
  *    removal shares ([[IndexMaintenance.append]],
  *    [[IndexMaintenance.removal]]): every meta write (append merge,
  *    removal subtraction) updates fingerprint and sum_dl in the SAME
  *    parquet file, so the two can never desync. This family's meta row
  *    adds only `sum_dl` to that commit.
  *    Defense in depth: `topK` under `graft.term.checkStats=true`
  *    (Verify sets it) re-derives both from the stored dl rows and
  *    refuses on mismatch, so drift fails loudly in the oracle gate
  *    rather than silently mis-scoring.
  *
  * Writes are tag-scoped dynamic overwrites (the [[ClusterIndex]]
  * discipline, NOT the append-mode [[TextIndex]] one) because BM25
  * aggregates SUM over postings: a crash-replayed append-mode batch
  * would double every tf it carries — match-once probe semantics
  * tolerate duplicate rows, ranking sums do not. A replay rewrites its
  * own `_src` partitions byte-for-byte; a DIFFERENT delta under a used
  * tag refuses loudly.
  *
  * Ids must be UNIQUE across corpus and deltas (same contract as the
  * cluster family): two versions of one id would both score.
  *
  * RTBF: [[logicalRemove]] tombstones victims (queries blind
  * immediately — scores, df, N, and avgdl all reflect the survivors
  * from that moment) and [[compact]] reclaims physically on its own
  * cadence; [[remove]] (r17) is the "data must be GONE now" verb — the
  * same bucket-pruned partition rewrites as the siblings, so a BM25
  * index honors the strict-SLA takedown without waiting for the next
  * compaction. All four families now carry both verbs, and both commit
  * rows-first ([[IndexMaintenance.removal]]), so the stats topK serves
  * from meta never LEAD the served rows.
  *
  * Writers hold the EXCLUSIVE `xwrite` lease, not the shared `write`
  * one (ADVICE r16): concurrent tag-scoped appends never collide on
  * partitions, but both would read meta at entry and commit
  * merge(entry-meta, own-delta) — the later commit silently dropping
  * the earlier delta's (n_rows, sum_dl). For the one family that
  * SERVES stats from meta, lost updates are mis-scoring, so same-index
  * writes serialize (the loser gets the retryable lease conflict).
  */
object TermIndex {

  private def sanitize(tag: String): String = Fingerprint.sanitizeTag(tag)

  private def tb(term: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(term), lit(nBuckets.toLong))
  private def idb(id: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(id), lit(nBuckets.toLong))

  /** Per-(doc, term) counts + per-doc lengths for one corpus slice. */
  private def stats(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val toks = graft.functions.TextOps.tokens(col(textCol))
    val tf = docs
      .select(col(idCol), explode(toks).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = docs.select(col(idCol), size(toks).cast("long").as("dl"))
    (tf, dl)
  }

  private def writeSlice(tf: DataFrame, dl: DataFrame, idCol: String,
                         root: String, src: String, nBuckets: Int,
                         dynamic: Boolean): Unit = {
    def w(df: DataFrame, parts: Seq[String], path: String): Unit = {
      val base = df.write.mode("overwrite")
      (if (dynamic) base.option("partitionOverwriteMode", "dynamic") else base)
        .partitionBy(parts: _*).parquet(path)
    }
    w(tf.withColumn("_src", lit(src)).withColumn("tb", tb(col("term"), nBuckets)),
      Seq("_src", "tb"), s"$root/postings")
    w(dl.withColumn("_src", lit(src)).withColumn("idb", idb(col(idCol), nBuckets)),
      Seq("_src", "idb"), s"$root/dl")
  }

  private def writeMeta(s: SparkSession, root: String, nBuckets: Int,
                        fp: (Long, Long), sumDl: Option[Long]): Unit = {
    import s.implicits._
    val base = Seq((nBuckets, fp._1, fp._2))
      .toDF("n_buckets", "n_rows", "content_hash")
    sumDl.fold(base)(sd => base.withColumn("sum_dl", lit(sd)))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
  }

  /** Token total of a dl slice — one column-pruned aggregate. The write
    * sites pass the slice ALREADY ON DISK (build: the whole table;
    * append: the tag's own `_src` partition) so the number always
    * describes the rows of record, never a re-tokenize that could
    * diverge from them. */
  private def sumDlOf(dl: DataFrame): Long =
    dl.agg(coalesce(sum(col("dl")), lit(0L))).head().getLong(0)

  /** One corpus pass: tokenize, aggregate tf + dl, persist both tables
    * and the fingerprinted meta row. Static overwrite — a rebuild
    * replaces every generation and drops the old replay bookkeeping. */
  def build(docs: DataFrame, idCol: String, textCol: String, indexDir: String,
            nBuckets: Int = 64): Unit = {
    val s = docs.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    // a rebuild during a pending removal would wipe the replay state its
    // windows depend on (same rule as the cluster family)
    Fingerprint.requireNoOtherPendingRemoval(conf,
      IndexMaintenance.normalize(indexDir), rmTag = "", "TermIndex.build")
    IndexMaintenance.withLease(conf, indexDir, "xwrite") {
      val root = IndexMaintenance.liveRoot(conf, indexDir)
      val (tf, dl) = stats(docs, idCol, textCol)
      writeSlice(tf, dl, idCol, root, src = "build", nBuckets, dynamic = false)
      val fp = Fingerprint.of(docs, Seq(idCol, textCol))
      writeMeta(s, root, nBuckets, fp,
        Some(sumDlOf(s.read.parquet(s"$root/dl"))))
      Fingerprint.clearReplayState(conf, indexDir)
      LogicalDelete.clear(conf, indexDir)
      Fingerprint.writeSourceStatus(conf, indexDir, Fingerprint.sourceStatus(docs))
    }
  }

  // (n_buckets, fingerprint, sum_dl) of one meta row
  private def metaOf(m: org.apache.spark.sql.Row)
      : (Int, Option[(Long, Long)], Option[Long]) =
    (m.getAs[Int]("n_buckets"), IndexMaintenance.fingerprintOf(m),
      // pre-r16 index without the stats column: serve falls back to the
      // dl aggregate until the next rebuild refreshes meta
      if (m.schema.fieldNames.contains("sum_dl"))
        Some(m.getAs[Long]("sum_dl"))
      else None)

  /** Fingerprint freshness, same contract as the siblings
    * ([[IndexMaintenance.isFresh]]). */
  def isFresh(s: SparkSession, indexDir: String, corpus: DataFrame,
              idCol: String, textCol: String): Boolean =
    IndexMaintenance.isFresh(s, indexDir, corpus, Seq(idCol, textCol))

  /** Build-once/serve-many entry: (re)build only when absent or stale. A
    * pre-r16 meta without `sum_dl` serves through the O(corpus)
    * fallback, so it is schema-upgraded by rebuild even when
    * content-fresh. */
  def ensure(docs: DataFrame, idCol: String, textCol: String, indexDir: String,
             nBuckets: Int = 64): Unit =
    IndexMaintenance.ensureFresh(docs, indexDir, Seq(idCol, textCol), "postings",
      root => !IndexSnapshot.at(docs.sparkSession, indexDir, root).meta.schema
        .fieldNames.contains("sum_dl")) {
      build(docs, idCol, textCol, indexDir, nBuckets)
    }

  /** Ranked retrieval against the persisted statistics: BM25 with the
    * positive-idf ln form, k1/b at query time (they tune, they don't
    * index). `queries(queryIdCol, queryTextCol)` is expected to be
    * small (a query batch); its terms' buckets are collected ONCE
    * (bounded: <= nBuckets longs) and turn both postings reads into
    * static partition filters. Returns (queryIdCol, rank, <doc id col>,
    * score) with the identical decimal accumulation + rounding as the
    * closed-form `TextPipeline.bm25TopK`, so index-vs-recompute is
    * value-exact, not approximately equal. Pending logical deletes are
    * anti-joined out of the postings and the dl join, and N/avgdl come
    * from meta (subtracted at logicalRemove commit) — the RTBF contract
    * holds from the moment logicalRemove returns.
    *
    * `excludeSelf = true` serves more-like-this retrieval: when the
    * query ids share the doc id space (the query IS an indexed doc),
    * the doc itself is dropped BEFORE ranking so it never occupies a
    * result slot. */
  def topK(s: SparkSession, indexDir: String, queries: DataFrame,
           queryIdCol: String = "query_id", queryTextCol: String = "q",
           k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
           excludeSelf: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val snap = IndexSnapshot(s, indexDir)
    val (nBuckets, metaFp, metaSumDl) = metaOf(snap.meta)
    val postingsAll = snap.table("postings")
    val idCol = postingsAll.columns
      .filterNot(Set("term", "tf", "_src", "tb")).head
    val tomb = LogicalDelete.ids(s, indexDir)
    def hide(df: DataFrame) = LogicalDelete.hide(df, idCol, tomb)

    // ONE job for the whole query side: the (query_id, term) pairs, with
    // their term buckets, deduped per partition and on the driver (no
    // shuffle). The joins below consume a driver-local relation, and the
    // postings read filters on the query vocabulary itself. Bounded by
    // the query batch's vocabulary, never the corpus.
    val qtPlan = queries
      .select(col(queryIdCol),
        explode(graft.functions.TextOps.tokens(col(queryTextCol))).as("term"))
      .withColumn("_tb", tb(col("term"), nBuckets))
    val qtRows = IndexMaintenance.distinctRows(qtPlan)
    val qterms = s.createDataFrame(java.util.Arrays.asList(qtRows: _*), qtPlan.schema)
      .drop("_tb")
    val tfQ = hide(postingsAll
        .filter(col("tb").isin(qtRows.map(_.getLong(2)).distinct: _*) &&
          col("term").isin(qtRows.map(_.getString(1)).distinct: _*)))
      .select(col(idCol), col("term"), col("tf"))
      // lazy: the idb collect right below is the materializing action,
      // so the checkpoint costs no extra job (df + score join reuse it)
      .localCheckpoint(eager = false)
    val dfreq = tfQ.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // second bounded collect (<= nBuckets longs): the CANDIDATE docs'
    // idb values turn the per-doc dl join read into a static partition
    // filter too — with the meta stats below, no read in this serve
    // path touches more than the query's own buckets
    val touchedIdb = IndexMaintenance.distinctRows(
      tfQ.select(idb(col(idCol), nBuckets))).map(_.getLong(0))
    val dlCand = hide(snap.table("dl")
        .filter(col("idb").isin(touchedIdb: _*)))
      .select(col(idCol), col("dl"))
    // N and avgdl come from meta — maintained survivor-exact by every
    // append/logicalRemove under the fingerprint protocol (class doc) —
    // NOT from an O(corpus) dl aggregate per query batch. Reproduces
    // the legacy expression's exact IEEE arithmetic: long sum cast to
    // double, divided by the long count promoted to double.
    val metaStats = for { fp <- metaFp; sd <- metaSumDl }
      yield (fp._1.toDouble, sd.toDouble / fp._1.toDouble)
    if (metaStats.isDefined &&
        s.conf.getOption("graft.term.checkStats").exists(_.toBoolean)) {
      // drift tripwire (Verify sets this): re-derive both stats from the
      // stored rows of record and refuse on ANY disagreement with meta
      val r = hide(snap.table("dl")).agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("sd")).head()
      require(r.getLong(0) == metaFp.get._1 && r.getLong(1) == metaSumDl.get,
        s"TermIndex.topK on $indexDir: meta corpus stats (n=${metaFp.get._1}, " +
          s"sum_dl=${metaSumDl.get}) disagree with the stored dl rows " +
          s"(n=${r.getLong(0)}, sum_dl=${r.getLong(1)}) — the incremental " +
          "maintenance drifted; rebuild the index and report the lifecycle " +
          "sequence that led here")
    }
    val joined0 = tfQ
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .join(dlCand, Seq(idCol))
    val joined =
      if (excludeSelf) joined0.filter(col(idCol) =!= col(queryIdCol))
      else joined0
    metaStats.fold {
      // pre-r16 meta without sum_dl: the legacy full-table aggregate
      val dlAll = hide(snap.table("dl"))
        .select(col(idCol), col("dl"))
      val corpusStats = dlAll.agg(count(lit(1)).cast("double").as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      joined.crossJoin(broadcast(corpusStats))
    } { case (n, avgdl) =>
      joined.withColumn("n", lit(n)).withColumn("avgdl", lit(avgdl))
    }
      .groupBy(col(queryIdCol), col(idCol))
      // the ONE shared scorer — doc_bm25_index_topk == doc_bm25_topk is
      // a value-exact contract, see graft.functions.Bm25
      .agg(graft.functions.Bm25.score(graft.functions.Bm25.weight(k1, b))
        .as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(col("score").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col(idCol), col("score"))
  }

  /** Which of `ids` are already indexed ([[IndexMaintenance.knownIds]]
    * over `dl`): the unique-id contract means a stable-id re-crawl must
    * not re-enter. */
  def knownIds(s: SparkSession, indexDir: String, ids: DataFrame,
               idCol: String, excludeTag: Option[String] = None): DataFrame =
    IndexMaintenance.knownIds(s, indexDir, "dl", ids, idCol, excludeTag)

  /** O(|delta|) maintenance — `tag` must be BATCH-UNIQUE: writes are
    * tag-scoped dynamic overwrites (see the class doc for why this
    * family cannot be append-mode), so a crash-replay rewrites its own
    * partitions exactly-once and [[IndexMaintenance.append]] merges the
    * fingerprint and `sum_dl` once per (tag, delta) pair, in one meta
    * write. Post-condition (TermIndexSpec): topK == a fresh build over
    * the union corpus. */
  def append(delta: DataFrame, idCol: String, textCol: String,
             indexDir: String, tag: String = "append"): Unit =
    // xwrite (ADVICE r16): same-index appends must serialize — see the
    // class doc; the meta commit merges into the meta read at lease
    // entry, which only stays current while no sibling writer runs
    IndexMaintenance.append(delta, indexDir, tag, "xwrite",
        Seq(idCol, textCol), "term") { ctx =>
      IndexMaintenance.admitOverwriteTag(ctx, tag, "TermIndex.append")
      val (tf, dl) = stats(delta, idCol, textCol)
      writeSlice(tf, dl, idCol, ctx.root, src = sanitize(tag),
        metaOf(ctx.meta)._1, dynamic = true)
    } { (ctx, fp) =>
      val s = delta.sparkSession
      val (nBuckets, _, oldSumDl) = metaOf(ctx.meta)
      // sum_dl rides the same meta write, its delta read off the tag's
      // OWN just-written `_src` partition (pruned, O(delta), replay-
      // stable: the dynamic overwrite rewrites it byte-for-byte)
      writeMeta(s, ctx.root, nBuckets, fp, oldSumDl.map(_ + sumDlOf(
        s.read.parquet(s"${ctx.root}/dl")
          .filter(col("_src") === lit(sanitize(tag))))))
    }

  /** A removal's victims: the capture, their id buckets (driver-side for
    * a key set), and — one job — their term buckets and token total
    * under the frozen tokenizer. A PURE function of the victims
    * argument, so the removal verbs need no persisted bucket plan: a
    * crash-replay recomputes the identical prune from the same rows
    * (unlike [[TextIndex.remove]], whose plan rides the rmstate dir). */
  private final class Victims(val v: IndexMaintenance.Victims, val textCol: String,
                              nBuckets: Int) {
    def idCol: String = v.idCol
    val vIdb: Seq[Any] = v.keys.mapDistinct(idb(_, nBuckets))
    val (vTb, sumDl): (Seq[Long], Long) = {
      val parts = v.rows
        .select(transform(graft.functions.TextOps.tokens(col(textCol)),
          t => tb(t, nBuckets)).as("_tb"))
        .rdd.mapPartitions { it =>
          val tbs = scala.collection.mutable.HashSet.empty[Long]
          var dl = 0L
          it.filterNot(_.isNullAt(0)).foreach { r =>
            val a = r.getSeq[Long](0); tbs ++= a; dl += a.size }
          Iterator((tbs.toSet, dl))
        }.collect()
      (parts.flatMap(_._1).distinct.toSeq, parts.map(_._2).sum)
    }
  }

  /** The victim set of a removal; None when it is empty. */
  private def victimsOf(v: IndexMaintenance.Victims, textCol: String,
                        nBuckets: Int): Option[Victims] =
    if (v.keys.n == 0L) None else Some(new Victims(v, textCol, nBuckets))

  /** First-attempt victim validation shared by both removal verbs, in
    * ONE job ([[TargetedDelete.checkVictims]]): the
    * content known-check and the mid-append-crash provenance guard
    * (every victim dl row's `_src` must have recorded its merge).
    * Content is compared per id as the token MULTISET: the victims'
    * tokens against the stored postings pruned to the victims' term
    * buckets, weighted by tf. The prune could hide stored-only terms, so
    * totality is pinned by the dl: the stored dl must equal the victims'
    * token count — pruned-multiset match + equal token counts => full
    * match (a stored term outside the pruned buckets would make the
    * stored dl strictly larger), the same argument that makes the
    * physical verb's tb-pruned postings delete exact. */
  private def validateVictims(ctx: IndexMaintenance.RemovalCtx, v: Victims,
                              opName: String): Unit = {
    val (idCol, keys) = (v.idCol, v.v.keys)
    val rows = Seq(
      TargetedDelete.digestRow(v.v.rows.select(col(idCol),
          explode(graft.functions.TextOps.tokens(col(v.textCol))).as("term")),
        "v", idCol, lit(1L), xxhash64(col("term"))),
      TargetedDelete.digestRow(keys.semi(ctx.snapshot.table("postings")
        .filter(col("tb").isin(v.vTb: _*)), idCol), "s", idCol, col("tf"), xxhash64(col("term"))),
      TargetedDelete.digestRow(keys.semi(ctx.snapshot.table("dl")
        .filter(col("idb").isin(v.vIdb: _*)), idCol), "d", idCol, col("dl"), lit(0L), col("_src")))
    val (known, srcs) = TargetedDelete.checkVictims(rows.reduce(_ unionByName _), idCol, keys) { ds =>
      val none = TargetedDelete.Digest(0L, 0L, Set.empty)
      val (vd, sd) = (ds.getOrElse("v", none), ds.getOrElse("s", none))
      ds.get("d").exists(_.n == vd.n) && vd.n == sd.n && vd.sum == sd.sum
    }
    TargetedDelete.requireKnown(known, keys.n, opName)
    Fingerprint.requireRecordedProvenance(ctx.conf, ctx.indexDir, srcs, opName)
  }

  /** LOGICAL targeted delete — the RTBF fast path: the same victim
    * check and the same rows-first commit ([[IndexMaintenance.removal]])
    * as the siblings, with one tombstone-batch write as its rows and
    * physical reclaim at the next [[compact]] (or [[remove]] for a
    * strict "gone now" SLA). Queries are blind — and their df/N/avgdl
    * statistics survivor-exact — the moment this returns. `victims`
    * must carry the EXACT `(id, text)` rows as ingested. */
  def logicalRemove(victims: DataFrame, idCol: String, textCol: String,
                    indexDir: String, tag: String = "remove"): Unit =
    logicalRemove(IndexMaintenance.Victims(victims, Seq(idCol, textCol)), textCol,
      indexDir, tag)

  /** [[logicalRemove]] of captured victims (an RTBF purge's shared capture). */
  private[graft] def logicalRemove(victims: IndexMaintenance.Victims, textCol: String,
                                   indexDir: String, tag: String): Unit =
    IndexMaintenance.removal(victims, indexDir, tag,
        "TermIndex.logicalRemove", "term.logical") { ctx =>
      val s = victims.rows.sparkSession
      val (nBuckets, _, oldSumDl) = metaOf(ctx.meta)
      victimsOf(victims, textCol, nBuckets).map { v =>
        if (ctx.firstAttempt) {
          LogicalDelete.requireNotTombstoned(ctx.indexDir, victims.keys,
            "TermIndex.logicalRemove")
          validateVictims(ctx, v, "TermIndex.logicalRemove")
        }
        IndexMaintenance.RemovalCommit(
          rows = () => ctx.tombstone(victims.keys.frame, v.idCol),
          // sum_dl subtraction rides the SAME atomic meta write the
          // resolver gates: when the fingerprint is on the
          // pre-subtraction side, so is sum_dl (one file), so "current
          // minus victims" is exact under crash replay AND under appends
          // interleaved mid-removal (their sum_dl merges arrived through
          // the same meta writes the resolver's addend accounts for).
          // Victims' token total is recomputed from the given (id, text)
          // rows — validated content-equal to the stored rows on the
          // first attempt — O(victims).
          writeMeta = fp => writeMeta(s, ctx.root, nBuckets, fp,
            oldSumDl.map(_ - v.sumDl)))
      }
    }

  /** PHYSICAL targeted delete (VERDICT r16 item 1 — the family's last
    * verb asymmetry): the victims' rows leave `postings` and `dl` ON
    * DISK before this returns, for the "data must be GONE" RTBF SLA
    * that [[logicalRemove]]+[[compact]] only bounds by the compaction
    * cadence. The commit is the shared rows-first one
    * ([[IndexMaintenance.removal]]); this family's rows are:
    *
    *  - a victim BARRIER (r17 review, the ClusterRemoval staged-path
    *    move): appends are allowed while a crashed removal's state
    *    pends (the resolver's addend rule keeps META exact under them),
    *    but an append RE-INGESTING a victim id in that window would have
    *    its fresh rows deleted by the id-keyed replay while its
    *    fingerprint stays merged — rows and meta diverging for good. The
    *    barrier tombstones the victims for the removal's duration
    *    (requireNotTombstoned refuses their re-ingest; topK goes blind to
    *    them even before the deletes land) and is cleared after the
    *    state, in `done`. The barrier batch carries a marker
    *    ([[LogicalDelete.write]]'s `barrier`): a [[logicalRemove]] of
    *    the same victims under the same tag writes a batch of the same
    *    name, and a later remove reads as its completed replay — only
    *    a marked batch is this verb's to clear;
    *  - two pruned parallel partition rewrites with NO persisted bucket
    *    plan: the postings prune (victims' term buckets) recomputes from
    *    the victims' own (id, text) under the frozen tokenizer —
    *    replay-stable by construction — where TextIndex persists `vhb`.
    *    The prune is EXACT by the validateVictims dl totality argument.
    *
    * `victims` must carry the EXACT `(id, text)` rows as ingested, all
    * ids indexed (checked before anything mutates); pending logical
    * deletions must reclaim first (their meta subtraction already
    * landed — re-subtracting here would drift it). Tag shares the
    * remove namespace. Post-conditions (TermIndexSpec): topK == a fresh
    * build on the survivors value-exact, victim rows absent from disk,
    * IndexCheck clean. */
  def remove(victims: DataFrame, idCol: String, textCol: String,
             indexDir: String, tag: String = "remove"): Unit =
    remove(IndexMaintenance.Victims(victims, Seq(idCol, textCol)), textCol, indexDir, tag)

  /** [[remove]] of captured victims (an RTBF purge's shared capture). */
  private[graft] def remove(victims: IndexMaintenance.Victims, textCol: String,
                            indexDir: String, tag: String): Unit = {
    val barrierBatch = Fingerprint.sanitizeTag(s"rm.$tag")
    IndexMaintenance.removal(victims, indexDir, tag,
        "TermIndex.remove", "term.remove",
        // state FIRST, barrier second — deliberate: a crash between the
        // two leaves a stale barrier with no state, which merely keeps
        // the (already-erased) ids refusing re-ingest until the next
        // compact or the completed replay clears it — an availability
        // hiccup. The opposite order would open a window where an append
        // re-ingests a victim id while state still pends and a replay's
        // id-keyed deletes then erase the NEW rows with their
        // fingerprint left merged — rows/meta divergence for good.
        done = ctx => {
          FaultInjection.maybeCrash("term.remove.cleanup")
          if (LogicalDelete.isBarrier(ctx.conf, ctx.indexDir, barrierBatch))
            LogicalDelete.clearBatches(ctx.conf, ctx.indexDir, Seq(barrierBatch))
        }) { ctx =>
      val s = victims.rows.sparkSession
      val (nBuckets, _, oldSumDl) = metaOf(ctx.meta)
      LogicalDelete.requireNonePending(ctx.conf, ctx.indexDir, "TermIndex.remove",
        exceptBatch = Some(barrierBatch))
      victimsOf(victims, textCol, nBuckets).map { v =>
        if (ctx.firstAttempt) validateVictims(ctx, v, "TermIndex.remove")
        def leg(table: String, parts: Seq[String], prune: org.apache.spark.sql.Column) =
          () => {
            TargetedDelete.deleteKeys(s, s"${ctx.root}/$table", parts, v.idCol,
              victims.keys, prune, Some(ctx.snapshot.schema(table)))
            (): Unit
          }
        IndexMaintenance.RemovalCommit(
          rows = () => {
            LogicalDelete.write(victims.keys.frame, v.idCol, ctx.indexDir, ctx.rmTag,
              barrier = true)
            FaultInjection.maybeCrash("term.remove.barrier")
            // both deletes are idempotent pruned dynamic overwrites
            // driven by replay-stable bucket lists — parallel,
            // order-free, convergent from any completed subset
            IndexMaintenance.runLegs(Seq(
              "term.remove.postings" -> leg("postings", Seq("_src", "tb"),
                col("tb").isin(v.vTb: _*)),
              "term.remove.dl" -> leg("dl", Seq("_src", "idb"), col("idb").isin(v.vIdb: _*))))
          },
          // same sum_dl protocol as logicalRemove
          writeMeta = fp => writeMeta(s, ctx.root, nBuckets, fp,
            oldSumDl.map(_ - v.sumDl)),
          retired = Seq("postings", "dl", "meta"))
      }
    }
  }

  /** Fold the accreted append partitions to one file each (pure I/O,
    * `_src`/`tb` structure preserved — provenance keeps working) and
    * RECLAIM tombstoned rows on the rewrite the fold was doing anyway;
    * generation-pointer cutover like every family. */
  def compact(s: SparkSession, indexDir: String): Unit =
    IndexMaintenance.foldCompact(s, indexDir,
      folds = Seq("postings" -> Seq("_src", "tb"), "dl" -> Seq("_src", "idb")),
      copies = Seq("meta"))
}
