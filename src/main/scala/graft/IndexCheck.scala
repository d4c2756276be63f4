package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IndexMaintenance, IndexSnapshot, LogicalDelete, Similarity, TextIndex,
  VectorIndex}

/** Deep READ-ONLY integrity audit of a persisted index — the data-plane
  * sibling of [[IndexAdmin]] (which stays SparkSession-free and answers
  * control-plane questions from a cold JVM). IndexCheck opens the data
  * tables and verifies the invariants every consumer implicitly trusts:
  * cross-table id cover, canonical component labels, edge-log endpoint
  * containment, postings/token agreement, bucket-column hashes, band
  * signatures under the frozen parameters, IVF cell assignment under
  * the persisted quantizer, and the meta row count vs the physical rows
  * (tombstone-adjusted). An index that passes probes fine can still be
  * silently damaged — a partition lost to a botched restore, a manual
  * "cleanup" under the index dir, an object-store copy that dropped a
  * file — and every such defect surfaces here as a named check with a
  * violation count, instead of as wrong query results months later.
  *
  * Deliberately has NO mutating verbs, like IndexAdmin: the repair for
  * real damage is a rebuild (`ensure()` after deleting the fingerprint)
  * or replaying the crashed operation that caused it. When control
  * state shows an operation in flight (crashed removal, unmarkered
  * append), findings may just be that operation's crash window — the
  * report says so rather than crying corruption. The ONE write is
  * bookkeeping, not data: a CLEAN pass stamps `<indexDir>/fsck` with
  * its wall-clock time so `IndexAdmin --advise` can flag an index
  * whose last verified-good audit is older than the deletion SLA
  * (VERDICT r15 item 5); pass `record = false` (read-only mounts,
  * spec probes) to suppress it.
  *
  * Cost shape: each check is one or two aggregates/joins over the
  * index's own tables — O(index), never O(corpus²) — and the quantizer
  * / parameter reads are the same bounded reads the probes pay. Run it
  * like a filesystem fsck: after an incident, before trusting a
  * restored copy, on a maintenance cadence.
  *
  * `sbt "runMain graft.IndexCheck <indexDir> [<indexDir>...]"` — exit 1
  * if any check fails.
  */
object IndexCheck {

  final case class Check(name: String, ok: Boolean, detail: String)

  final case class DataReport(
      dir: String,
      family: String,              // "cluster" | "text" | "vector" | "term"
      inflight: Seq[String],       // crashed/in-flight ops that can explain findings
      checks: Seq[Check]) {
    def failed: Seq[Check] = checks.filterNot(_.ok)
    def ok: Boolean = failed.isEmpty
  }

  /** Audit one index dir; family is detected from the live root's
    * tables. Throws on an unrecognizable layout (not an index dir). A
    * clean pass stamps the `fsck` recency marker (see the class doc)
    * unless `record = false`. */
  def check(s: SparkSession, indexDir0: String,
            record: Boolean = true): DataReport = {
    val dir = IndexMaintenance.normalize(indexDir0)
    val conf = s.sparkContext.hadoopConfiguration
    val root = IndexMaintenance.liveRoot(conf, dir)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val tables = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    // in-flight context from the control plane: a finding during a crash
    // window is a replay demand, not corruption
    val admin = IndexAdmin.report(conf, dir)
    val inflight =
      // heartbeat-fresh pending state is a RUNNING lease-free removal
      // half (r17), not a crash — label it so (the data-plane findings
      // still carry the same caveat: mid-operation state, re-check after)
      admin.inflightRemovals.toSeq.sorted
        .map(t => s"running lease-free removal: $t") ++
        (admin.pendingRemovals -- admin.inflightRemovals).toSeq.sorted
          .map(t => s"crashed removal: $t") ++
        admin.unmarkeredRecordedTags.toSeq.sorted
          .map(t => s"recorded-but-unmarkered append: $t")
    val victims = LogicalDelete.ids(s, dir)
    val family =
      if (tables.contains("edges") && tables.contains("assign")) "cluster"
      else if (tables.contains("bands")) "text"
      else if (tables.contains("centroids")) "vector"
      else if (tables.contains("postings") && tables.contains("dl")) "term"
      else throw new IllegalArgumentException(
        s"IndexCheck: $root holds none of the four index layouts " +
          s"(tables: ${tables.toSeq.sorted.mkString(", ")})")
    val snap = IndexSnapshot.at(s, dir, root)
    val checks = family match {
      case "cluster" => clusterChecks(s, snap, victims)
      case "text"    => textChecks(s, snap, victims)
      case "vector"  => vectorChecks(s, snap, victims)
      case "term"    => termChecks(s, snap, victims)
    }
    val report = DataReport(dir, family, inflight, checks)
    // recency stamp ONLY on a clean pass: a failing audit must never
    // advance the "last verified good" clock advise() reads
    if (record && report.ok) stampFsck(conf, dir)
    report
  }

  /** Write the fsck recency marker — epoch millis, one tiny file. */
  private def stampFsck(conf: org.apache.hadoop.conf.Configuration,
                        dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/fsck")
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(System.currentTimeMillis().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Millis since the last CLEAN audit stamped this index — None when
    * none ever ran (or the marker was cleared). Read by
    * [[IndexAdmin.report]]. */
  def lastFsckAgeMs(conf: org.apache.hadoop.conf.Configuration,
                    indexDir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(
      s"${IndexMaintenance.normalize(indexDir)}/fsck")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      scala.util.Try(txt.trim.toLong).toOption
        .map(t => math.max(0L, System.currentTimeMillis() - t))
    }
  }

  // ---- shared primitives -------------------------------------------

  private def chk(name: String, violations: Long, detail: String): Check =
    Check(name, violations == 0L,
      if (violations == 0L) detail else s"$violations violation(s) — $detail")

  /** The id column of a table, recovered as the one column outside the
    * layout's known set (the same recovery rule LogicalDelete uses). */
  private def idColOf(df: DataFrame, known: Set[String]): String =
    df.columns.filterNot(known).head

  private def bucketViolations(df: DataFrame, bucket: String,
                               expected: org.apache.spark.sql.Column): Long =
    df.filter(col(bucket).cast("long") =!= expected).count()

  // ---- cluster family ------------------------------------------------

  private def clusterChecks(s: SparkSession, snap: IndexSnapshot.Snapshot,
                            victims: Option[DataFrame]): Seq[Check] = {
    val (root, meta) = (snap.root, snap.meta)
    val nBuckets = meta.getAs[Int]("n_buckets")
    val assign = s.read.parquet(s"$root/assign")
    val idCol = idColOf(assign, Set("component", "_src", "idb"))
    val toks = s.read.parquet(s"$root/toks")
    val aIds = assign.select(col(idCol)).localCheckpoint(eager = false)

    // (1) cross-table id cover: every assigned id has a token set and
    // vice versa — a lost partition on either side shows up here
    val cover = assign.select(col(idCol), lit(1).as("_a"))
      .join(toks.select(col(idCol), lit(1).as("_t")), Seq(idCol), "full_outer")
      .filter(col("_a").isNull || col("_t").isNull).count()

    // (2) canonical labels: a component's label IS its minimum member id
    // (the CC contract every equality proof in the specs leans on)
    val badLabels = assign.groupBy(col("component"))
      .agg(min(col(idCol)).as("_m"))
      .filter(col("_m") =!= col("component")).count()

    // (3) edge-log doc endpoints (sign >= 0) must be assigned ids — a
    // dangling endpoint would re-link a removed doc at the next re-split
    val edges = s.read.parquet(s"$root/edges")
    val endpoints = edges.select(col("u").as("_e"))
      .union(edges.select(col("v").as("_e")))
      .filter(col("_e") >= 0L).distinct()
    val dangling = endpoints
      .join(aIds.withColumnRenamed(idCol, "_e"), Seq("_e"), "left_anti").count()

    // (4) postings agree with the token sets they were exploded from:
    // same total multiplicity AND the same (id, token) set
    val postings = s.read.parquet(s"$root/postings")
    val postRows = postings.count()
    // coalesce: sum over ZERO rows is null, and the fsck must report an
    // emptied table as a violation, not die on it
    val tokSizes = toks
      .agg(coalesce(sum(size(col("_toks"))), lit(0L))).head().getLong(0)
    val pairDiff = postings.select(col(idCol), col("_tok")).distinct()
      .join(toks.select(col(idCol), explode(col("_toks")).as("_tok")).distinct(),
        Seq(idCol, "_tok"), "full_outer")
      // full outer on two key columns: a row missing on either side keeps
      // the other side's key values, so count rows outside the intersection
      .groupBy().count().head().getLong(0) // total distinct union pairs
    val tokPairs = toks.select(col(idCol), explode(col("_toks")).as("_tok"))
      .distinct().count()
    val postPairs = postings.select(col(idCol), col("_tok")).distinct().count()

    // (5) bucket columns really are the layout's hash functions — a
    // rewrite that recomputed them differently would break every pruned
    // read silently
    val badIdb = bucketViolations(assign, "idb",
      pmod(xxhash64(col(idCol)), lit(nBuckets.toLong)))
    val badTb = bucketViolations(postings, "tb",
      pmod(col("_tok"), lit(nBuckets.toLong)))
    val badEb = bucketViolations(edges, "eb",
      pmod(xxhash64(col("u")), lit(nBuckets.toLong)))

    // (6) meta row count vs physical rows, tombstone-adjusted: meta
    // subtracts at logicalRemove but the rows leave at reclaim
    val rowCountCheck = rowCount(meta, assign, idCol, victims, "assign")

    Seq(
      chk("id-cover", cover, "assign ids == toks ids"),
      chk("canonical-labels", badLabels,
        "every component label is its min member id"),
      chk("edge-endpoints", dangling,
        "edge-log doc endpoints are assigned ids"),
      chk("postings-multiplicity", math.abs(postRows - tokSizes),
        s"postings rows ($postRows) == sum of token-set sizes ($tokSizes)"),
      chk("postings-pairs",
        (pairDiff - tokPairs) + (pairDiff - postPairs),
        "postings (id, token) set == exploded toks"),
      chk("bucket-idb", badIdb, "assign.idb == pmod(xxhash64(id), n_buckets)"),
      chk("bucket-tb", badTb, "postings.tb == pmod(token, n_buckets)"),
      chk("bucket-eb", badEb, "edges.eb == pmod(xxhash64(u), n_buckets)"),
      rowCountCheck)
  }

  /** meta.n_rows == physical rows − pending-victim rows. Legacy
    * fingerprint-less metas have nothing to compare — reported ok with
    * a note, not skipped silently. */
  private def rowCount(meta: org.apache.spark.sql.Row, table: DataFrame,
                       idCol: String, victims: Option[DataFrame],
                       tableName: String): Check = {
    if (!meta.schema.fieldNames.contains("n_rows"))
      return Check("row-count", ok = true,
        "legacy meta (no fingerprint) — nothing to compare")
    val physical = table.count()
    val pendingVictimRows = victims.fold(0L)(v =>
      table.join(v.select(col(LogicalDelete.idColOf(v)).as(idCol)),
        Seq(idCol), "leftsemi").count())
    val metaRows = meta.getAs[Long]("n_rows")
    chk("row-count", math.abs(physical - pendingVictimRows - metaRows),
      s"meta.n_rows ($metaRows) == $tableName rows ($physical) - pending " +
        s"victims ($pendingVictimRows)")
  }

  // ---- text family -----------------------------------------------------

  private def textChecks(s: SparkSession, snap: IndexSnapshot.Snapshot,
                         victims: Option[DataFrame]): Seq[Check] = {
    val (root, meta) = (snap.root, snap.meta)
    val (numHashes, bands, nBuckets, seed) =
      (meta.getAs[Int]("num_hashes"), meta.getAs[Int]("bands"),
        meta.getAs[Int]("n_buckets"), meta.getAs[Int]("seed"))
    val toks = s.read.parquet(s"$root/toks")
    val idCol = idColOf(toks, Set("_toks", "idb"))
    val bandsDf = s.read.parquet(s"$root/bands")

    // (1) band rows equal a re-derivation from the stored token sets
    // under the FROZEN parameters — this is the whole probe contract
    // (multiset-aware: compare per-(id, band, band_hash) multiplicities,
    // so a re-crawled id's duplicate rows must match copy for copy)
    val expected = TextIndex.bandRows(
        toks.select(col(idCol), col("_toks")), idCol, numHashes, bands,
        nBuckets, seed)
      .groupBy(col(idCol), col("band"), col("band_hash"))
      .agg(count(lit(1)).as("_ne"))
    val stored = bandsDf
      .groupBy(col(idCol), col("band"), col("band_hash"))
      .agg(count(lit(1)).as("_ns"))
    val bandDrift = expected
      .join(stored, Seq(idCol, "band", "band_hash"), "full_outer")
      .filter(col("_ne").isNull || col("_ns").isNull ||
        col("_ne") =!= col("_ns")).count()

    // (2) bucket columns
    val badIdb = bucketViolations(toks, "idb",
      pmod(xxhash64(col(idCol)), lit(nBuckets.toLong)))
    val badHb = bucketViolations(bandsDf, "hb",
      pmod(col("band_hash"), lit(nBuckets.toLong)))

    Seq(
      chk("band-integrity", bandDrift,
        "stored bands == re-derived minhash bands under frozen params"),
      chk("bucket-idb", badIdb, "toks.idb == pmod(xxhash64(id), n_buckets)"),
      chk("bucket-hb", badHb, "bands.hb == pmod(band_hash, n_buckets)"),
      // multiset family: victims hide every physical row of their id
      rowCount(meta, toks, idCol, victims, "toks"))
  }

  // ---- vector family ---------------------------------------------------

  private def vectorChecks(s: SparkSession, snap: IndexSnapshot.Snapshot,
                           victims: Option[DataFrame]): Seq[Check] = {
    val (root, meta) = (snap.root, snap.meta)
    val centroidRows = snap.table("centroids").collect()
    val byCell = centroidRows.groupBy(_.getAs[Int]("cell"))
    val nlist = byCell.size
    // (1) quantizer well-formed: contiguous cells 0..nlist-1, equal dims
    val cellsContiguous =
      byCell.keySet == (0 until nlist).toSet
    val dims = byCell.values.map(_.length).toSet
    val quantizerBad = (if (cellsContiguous) 0L else 1L) +
      (if (dims.size == 1) 0L else 1L)
    val centroids = snap.centroids

    val cells = s.read.parquet(s"$root/cells")
    // recover the vector column by TYPE (the array column outside the
    // layout's own), not by name — an index built on a corpus whose
    // vector column isn't literally "embedding" must still audit
    val vecCol = cells.schema.fields
      .find(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
        && !Set("cell", "norm", "_src").contains(f.name))
      .map(_.name)
      .getOrElse(throw new IllegalArgumentException(
        s"IndexCheck: no vector (array) column in $root/cells " +
          s"(columns: ${cells.columns.mkString(", ")})"))
    val idCol = idColOf(cells,
      Set("cell", "norm", "_src", "label", vecCol))

    // (2) every stored row sits in the cell the persisted quantizer
    // assigns it (first-min rule — deterministic, so exact equality)
    val badCells = cells.filter(
      Similarity.nearestCentroid(col(vecCol), centroids) =!= col("cell"))
      .count()

    // (3) the cached norm equals a recompute over the stored vector
    // (same fused expression => bit-equal, not approximately equal)
    val badNorms = cells.filter(
      graft.functions.VectorOps.norm(col(vecCol)) =!= col("norm")).count()

    Seq(
      chk("quantizer-form", quantizerBad,
        s"contiguous cells 0..${nlist - 1}, one dimensionality"),
      chk("cell-assignment", badCells,
        "stored cell == nearest centroid under the persisted quantizer"),
      chk("norm-cache", badNorms, "stored norm == recomputed L2 norm"),
      rowCount(meta, cells, idCol, victims, "cells"))
  }

  // ---- term (BM25) family ------------------------------------------------

  private def termChecks(s: SparkSession, snap: IndexSnapshot.Snapshot,
                         victims: Option[DataFrame]): Seq[Check] = {
    val (root, meta) = (snap.root, snap.meta)
    val nBuckets = meta.getAs[Int]("n_buckets")
    val dl = s.read.parquet(s"$root/dl")
    val idCol = idColOf(dl, Set("dl", "_src", "idb"))
    val postings = s.read.parquet(s"$root/postings")

    // (1) cross-table id cover: every measured document has postings
    // (whitespace tokenization yields >= 1 term for any text) and every
    // posted id has a length row — BM25 needs both sides of every doc
    val cover = dl.select(col(idCol), lit(1).as("_d"))
      .join(postings.select(col(idCol)).distinct()
        .withColumn("_p", lit(1)), Seq(idCol), "full_outer")
      .filter(col("_d").isNull || col("_p").isNull).count()

    // (2) dl really is the token count: per id, sum(tf) == dl — a
    // partial postings loss or a stale dl row shows up as score skew
    // long before anyone notices; here it's a named count
    val badDl = postings.groupBy(col(idCol)).agg(sum(col("tf")).as("_stf"))
      .join(dl.select(col(idCol), col("dl")), Seq(idCol))
      .filter(col("_stf") =!= col("dl")).count()

    // (3) bucket columns are the layout's hash functions
    val badTb = bucketViolations(postings, "tb",
      pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
    val badIdb = bucketViolations(dl, "idb",
      pmod(xxhash64(col(idCol)), lit(nBuckets.toLong)))

    // (5) r16: the incrementally-maintained corpus token total — the
    // serve path scores from meta.sum_dl, so drift here IS score skew;
    // tombstone-adjusted like rowCount (meta subtracts at logicalRemove,
    // rows leave at reclaim)
    val statsCheck =
      if (!meta.schema.fieldNames.contains("sum_dl"))
        Check("corpus-stats", ok = true,
          "pre-r16 meta (no sum_dl) — serve falls back to the dl aggregate")
      else {
        val surviving = victims.fold(dl)(v => dl.join(
          v.select(col(LogicalDelete.idColOf(v)).as(idCol)),
          Seq(idCol), "left_anti"))
        val sd = surviving.agg(coalesce(sum(col("dl")), lit(0L)))
          .head().getLong(0)
        val metaSd = meta.getAs[Long]("sum_dl")
        chk("corpus-stats", math.abs(sd - metaSd),
          s"meta.sum_dl ($metaSd) == surviving dl total ($sd)")
      }

    Seq(
      chk("id-cover", cover, "dl ids == postings ids"),
      chk("dl-consistency", badDl, "per id, sum(postings.tf) == dl"),
      chk("bucket-tb", badTb, "postings.tb == pmod(xxhash64(term), n_buckets)"),
      chk("bucket-idb", badIdb, "dl.idb == pmod(xxhash64(id), n_buckets)"),
      rowCount(meta, dl, idCol, victims, "dl"),
      statsCheck)
  }

  // ---- console ---------------------------------------------------------

  def format(r: DataReport): String = {
    val sb = new StringBuilder
    sb.append(s"=== ${r.dir} [${r.family}] ")
      .append(if (r.ok) "OK" else s"${r.failed.size} CHECK(S) FAILED")
      .append("\n")
    r.inflight.foreach(i => sb.append(s"  ! in-flight: $i (findings may " +
      "be its crash window — replay it, then re-check)\n"))
    r.checks.foreach { c =>
      sb.append(f"  ${if (c.ok) "ok " else "FAIL"} ${c.name}%-22s ${c.detail}\n")
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: runMain graft.IndexCheck <indexDir> [<indexDir>...]")
    val spark = GraftSession(Some(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt))
    val reports = args.toSeq.map(check(spark, _))
    reports.foreach(r => println(format(r)))
    spark.stop()
    if (reports.exists(!_.ok)) System.exit(1)
  }
}
