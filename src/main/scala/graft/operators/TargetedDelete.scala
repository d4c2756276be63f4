package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Targeted key DELETION from a partitioned parquet lake — the
  * right-to-be-forgotten / takedown maintenance job (no analogue in the
  * reference, which only ever appends: `lake/lake.go` — but any lake
  * that ingests user data needs the inverse operation).
  *
  * The 100 TB point is what does NOT get rewritten: a naive delete
  * rescans and rewrites the whole table for a handful of keys. Here:
  *
  *  1. ONE pruned pass finds the distinct partitions that actually
  *     contain victim keys (semi-join, aggregated to the partition
  *     cols — the only driver-sized data in play),
  *  2. only those partitions are re-read, anti-joined against the key
  *     set (broadcast — a deletion list is small by nature),
  *  3. dynamic partition OVERWRITE replaces just the touched
  *     partitions (the Compaction recipe, including the eager
  *     checkpoint so the write never overlaps its own read).
  *
  * Untouched partitions keep their very FILES — TargetedDeleteSpec
  * asserts file identity, not just content. Deleting from an
  * unpartitioned table degrades to a full rewrite, which is the honest
  * cost floor; callers at scale partition their lakes.
  */
object TargetedDelete {

  /** Above this many distinct victim keys the delete's key joins drop
    * their broadcast hint and run as shuffle joins (VERDICT r11 items
    * 1/4): an RTBF request (tens to thousands of ids) broadcasts, a
    * compliance sweep (millions — 0.1% of a 100 TB corpus) must not —
    * a broadcast of that list strains the driver while a shuffle
    * hash-join on the key column costs one exchange of the (already
    * bucket-pruned) touched slice. Tunable for tests and deployments
    * via `-Dgraft.delete.broadcastKeys=N`; the decision is made on the
    * driver per call, so the property is read at call time. */
  private[graft] def broadcastKeyLimit: Long =
    sys.props.get("graft.delete.broadcastKeys").map(_.toLong).getOrElse(1000000L)

  /** Per-victim-id DISTINCT content set for the removal known-checks
    * (r14): `(id, sorted set of content hashes)`. The removal protocols
    * require this set to EQUAL the stored rows' per-id set, because the
    * physical delete is id-keyed (every stored version of the id goes)
    * while the fingerprint subtracts exactly the rows the caller passed:
    *
    *  - a wrong-content victim row refuses (nothing stored matches);
    *  - a PARTIAL-version takedown of a re-crawled id refuses — passing
    *    only (7, textB) when the index holds textA AND textB would
    *    delete both but subtract one, drifting meta silently (this was
    *    reachable pre-r14);
    *  - a FULL multi-version takedown (all of an id's ingested rows —
    *    exactly what rtbfPurgeStream resolves from a lake) passes
    *    and subtracts every version;
    *  - a victim whose ingest crashed between the lake write and the
    *    index append refuses loudly (stored side lacks the new version)
    *    instead of silently subtracting a never-merged fingerprint —
    *    the ingest replay completes the append, the takedown retries.
    *
    * SET, not multiset, on purpose: a crashed-append REPLAY leaves
    * duplicate physical rows in the index while the fingerprint merged
    * once (IndexRemoveSpec pins that a single victim row then removes
    * them all and subtracts once), so stored physical multiplicity is
    * not the merged multiplicity and must not be matched against.
    * Residual trust (unchanged from the pre-r14 contract): a direct
    * caller who duplicates a victim ROW beyond the record subtracts it
    * per copy — rtbfPurgeStream cannot produce this (it passes the
    * lake's rows of record). Hash-level compare on purpose: the
    * joined frames carry ids + small hash arrays, never token sets or
    * embeddings, so the victim-side broadcast stays id-scale bytes at
    * any document size. */
  private def contentSet(rows: DataFrame, idCol: String,
                         contentHash: Column): DataFrame =
    rows.select(col(idCol), contentHash.as("_ch"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("_ch"))).as("_chs"))

  /** The removal verbs' content known-check, one `count()` job: every
    * one of the `nV` distinct victim ids must be stored (`stored`, the
    * victims' pruned slice of the index) with a [[contentSet]] EQUAL to
    * the victims' own — content hashed by `victimHash` over the victim
    * rows and `storedHash` over the stored rows. Refuses before
    * anything mutates otherwise. */
  private[graft] def requireKnownContent(victims: DataFrame, victimHash: Column,
                                         stored: DataFrame, storedHash: Column,
                                         idCol: String, nV: Long,
                                         opName: String): Unit = {
    val vAgg = contentSet(victims, idCol, victimHash)
      .withColumnRenamed("_chs", "_vchs")
    val known = contentSet(stored, idCol, storedHash)
      .join(maybeBroadcast(vAgg, nV), Seq(idCol))
      .filter(col("_chs") === col("_vchs"))
      .count()
    if (known != nV) Fingerprint.refuse(
      s"$opName: only $known of $nV victim ids are indexed with matching " +
        "content (ALL stored versions of each id — the delete is " +
        "id-keyed); the fingerprint subtraction needs exactly the " +
        "ingested rows — pass them as they entered the index")
  }

  /** Broadcast only below the key-count threshold — shared by every
    * victim-keyed join in the delete/remove family. */
  private[graft] def maybeBroadcast(df: DataFrame, nKeys: Long): DataFrame =
    if (nKeys <= broadcastKeyLimit) broadcast(df) else df

  /** Delete every row whose `keyCol` appears in `keys` from the
    * partitioned table at `tableDir`. Returns the number of partitions
    * rewritten.
    *
    * `prePrune` (default: everything) is a PARTITION-column predicate
    * bounding pass 1: when the caller can name the partitions the
    * victims could possibly live in (the persisted indexes hash their
    * keys into bucket partitions, so the victim list maps to a bucket
    * list), pass 1 prunes to those files instead of key-scanning the
    * whole table — the difference between O(victim buckets) and
    * O(table) reads on a 100 TB index. Rows outside `prePrune` are
    * untouched by construction. */
  def delete(spark: SparkSession, tableDir: String, partitionCols: Seq[String],
             keyCol: String, keys: DataFrame,
             prePrune: org.apache.spark.sql.Column = lit(true)): Long = {
    // pinned: the checkpoint keeps pass 1's input_file_name projection
    // single-source (the analyzer rejects it over a plan with two file
    // relations — e.g. keys read from another parquet table) and gives
    // the key count for the broadcast decision without recompute
    val keyList = keys.select(col(keyCol)).distinct().localCheckpoint()
    val nKeys = keyList.count()
    deleteImpl(spark, tableDir, partitionCols, prePrune,
      mark = df => df.join(maybeBroadcast(keyList, nKeys), Seq(keyCol), "left_semi"),
      keep = df => df.join(maybeBroadcast(keyList, nKeys), Seq(keyCol), "left_anti"))
  }

  /** Either-endpoint keyed delete for adjacency/edge logs: delete every
    * row where ANY of `keyCols` matches a key in `keys` (column
    * `keyName`). One combined pass rewrites each touched partition once
    * — per-endpoint keyed [[delete]] calls would rewrite overlapping
    * partitions twice — and the endpoints are matched with semi/anti
    * EQUI-joins (broadcast below the key threshold), so the plan carries
    * no O(|victims|) literal list and no driver-side collect of the key
    * set, where the former `isInCollection` route blew plan size and
    * driver memory on mass-victim takedowns (ADVICE r11). */
  def deleteAnyKey(spark: SparkSession, tableDir: String,
                   partitionCols: Seq[String], keyCols: Seq[String],
                   keyName: String, keys: DataFrame,
                   prePrune: org.apache.spark.sql.Column = lit(true)): Long = {
    require(keyCols.nonEmpty, "deleteAnyKey needs at least one key column")
    val keyList = keys.select(col(keyName)).distinct().localCheckpoint()
    val nKeys = keyList.count()
    def keysAs(c: String) = maybeBroadcast(keyList.select(col(keyName).as(c)), nKeys)
    deleteImpl(spark, tableDir, partitionCols, prePrune,
      // union of per-endpoint semi-joins may duplicate a row matching on
      // both endpoints — pass 1 only needs the DISTINCT partitions, so
      // duplicates are harmless and an OR-join (which would degrade to a
      // nested-loop join) is avoided
      mark = df => keyCols.map(c => df.join(keysAs(c), Seq(c), "left_semi"))
        .reduce(_ unionByName _),
      keep = df => keyCols.foldLeft(df)((d, c) =>
        d.join(keysAs(c), Seq(c), "left_anti")))
  }

  /** Predicate variant: delete every row matching `victim` (a row-level
    * boolean Column) in one pass. For a MULTI-column victim condition —
    * e.g. the cluster index's adjacency log, where a doc id may sit in
    * either endpoint — one combined pass rewrites each touched partition
    * once, where two keyed [[delete]] calls would rewrite overlapping
    * partitions twice. The predicate should be driver-bounded (isin
    * over a small deletion list); for large key sets use the keyed
    * variant's broadcast join. */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  partitionCols: Seq[String],
                  victim: org.apache.spark.sql.Column,
                  prePrune: org.apache.spark.sql.Column = lit(true)): Long =
    deleteImpl(spark, tableDir, partitionCols, prePrune,
      mark = df => df.filter(victim),
      keep = df => df.filter(!victim))

  /** General partition-surgery variant: `mark` selects the rows whose
    * partitions must be rewritten, `keep` maps the touched slice to its
    * replacement rows (it may drop AND transform — e.g. the cluster
    * index's combined victim-removal + component-remap pass). Same
    * touched-partition discovery, dynamic overwrite, and emptied-dir
    * cleanup as [[delete]]. */
  def rewriteWhere(spark: SparkSession, tableDir: String,
                   partitionCols: Seq[String],
                   mark: DataFrame => DataFrame,
                   keep: DataFrame => DataFrame,
                   prePrune: org.apache.spark.sql.Column = lit(true)): Long =
    deleteImpl(spark, tableDir, partitionCols, prePrune, mark, keep)

  /** Decode an input_file_name-derived URI to a Hadoop Path (the
    * escaped-chars lesson from [[deleteImpl]]'s emptied-dir cleanup). */
  private def pathOfUri(uri: String): org.apache.hadoop.fs.Path =
    try new org.apache.hadoop.fs.Path(new java.net.URI(uri))
    catch { case _: Exception => new org.apache.hadoop.fs.Path(uri) }

  /** The VERBATIM file listing of a partition dir (name, length,
    * mtime; sorted) — the staleness token [[applyStaged]] compares
    * against the capture [[stageRewrite]] took. Any interleaved rewrite
    * of the partition (a concurrent append's bridge amendment) changes
    * it. Stored whole, not hashed (review-caught r15): the manifest is
    * driver-small, and a truncated hash would let a collision silently
    * flip a stale partition. */
  private def dirDigest(fs: org.apache.hadoop.fs.FileSystem,
                        dir: org.apache.hadoop.fs.Path): String = {
    val parts =
      try fs.listStatus(dir).map(st =>
          s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted
      catch { case _: java.io.FileNotFoundException => Array("ABSENT") }
    parts.mkString("|")
  }

  /** STAGE a [[rewriteWhere]]-class partition surgery without touching
    * the live table (r15, VERDICT r14 item 6 — the stage-then-flip
    * remove): the replacement rows for every touched partition land
    * under `stageDir` (same partition layout), and a driver-small
    * MANIFEST file (`<stageDir>.manifest`, flat text since r19 — see
    * [[writeManifest]]) records each touched
    * LIVE partition dir, its staged replacement dir (null when the
    * rewrite emptied it), and — when `captureStatus` — a file-listing
    * digest of the live dir so [[applyStaged]] can detect an
    * interleaved amendment. Pure reads against the live tree; the
    * caller flips later under its exclusive lease. */
  private[graft] def stageRewrite(spark: SparkSession, tableDir: String,
                                  stageDir: String,
                                  partitionCols: Seq[String],
                                  mark: DataFrame => DataFrame,
                                  keep: DataFrame => DataFrame,
                                  prePrune: Column = lit(true),
                                  captureStatus: Boolean = false): Unit = {
    require(partitionCols.nonEmpty, "staged rewrite needs a partitioned table")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(tableDir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(stageDir), true)
    fs.delete(new org.apache.hadoop.fs.Path(stageDir + ".manifest"), true)
    val table = spark.read.parquet(tableDir).filter(prePrune)
    def partMatch(a: DataFrame, b: DataFrame) =
      partitionCols.map(c => a(c) <=> b(c)).reduce(_ && _)
    // same one-scan collected touched-partition discovery as deleteImpl
    val t = discoverTouched(table, partitionCols, mark)
    if (t.rows.isEmpty) {
      // nothing touched: an EMPTY manifest still signals "staged, no-op"
      writeManifest(fs, stageDir, Seq.empty)
      return
    }
    val touched = t.localDf(spark)
    val slice = table.join(broadcast(touched), partMatch(table, touched), "left_semi")
    // write STRAIGHT to the staging dir — it is a different tree than
    // the one being read, so unlike deleteImpl there is no
    // read-overwrites-itself hazard and the former eager checkpoint
    // (a full extra pass over the slice) plus the isEmpty probe job
    // bought nothing (r18 opt). A rewrite that empties every partition
    // writes only _SUCCESS; the dir walk below then finds no partition
    // dirs, exactly the former hasRows=false manifest.
    keep(slice)
      .select(table.columns.map(col): _*)
      .write.partitionBy(partitionCols: _*)
      .mode("overwrite").parquet(stageDir)
    // live→staged dir mapping by RELATIVE path from FS metadata alone
    // (r18 opt: replaces a full re-scan of the staged output — a real
    // cost at scale, a whole extra job here). Sound because live and
    // staged dir names are the SAME escaping function applied to the
    // same partition values; if partition type inference changed a
    // value's string form between the original write and this one
    // (`day=01` read back as long 1 → staged dir `day=1`), the rel
    // paths fail to map and we fall back to a scan+value match. The
    // fallback pins the LIVE read's schema on the staged read (ADVICE
    // r18): re-inferring partition types from the staged subset alone
    // can disagree with the live read (staged {1} infers int where the
    // live table inferred long), and the boxed driver-side comparison —
    // unlike the old <=> join, which coerced — would then never match:
    // the partition would get _staged_dir=null and applyStaged would
    // DELETE the live dir without renaming the replacement in.
    val manifest0: Seq[(String, String)] = {
      val liveBase = decodedDirPath(fs.makeQualified(
        new org.apache.hadoop.fs.Path(tableDir)))
      def relOfLive(uri: String) =
        decodedDirPath(pathOfUri(uri)).stripPrefix(liveBase).stripPrefix("/")
      val stagedByRel: Option[Map[String, String]] =
        {
          val base = fs.makeQualified(new org.apache.hadoop.fs.Path(stageDir))
          val baseDec = decodedDirPath(base)
          def walk(p: org.apache.hadoop.fs.Path, depth: Int): Seq[org.apache.hadoop.fs.Path] =
            if (depth == 0) Seq(p)
            else fs.listStatus(p).toSeq.filter(_.isDirectory)
              .flatMap(st => walk(st.getPath, depth - 1))
          val m = walk(base, partitionCols.size).map(p =>
            decodedDirPath(p).stripPrefix(baseDec).stripPrefix("/")
              -> p.toUri.toString).toMap
          val liveRels = t.dirs.map(relOfLive).toSet
          if (m.keySet.subsetOf(liveRels)) Some(m) else None
        }
      stagedByRel match {
        case Some(m) =>
          t.dirs.distinct.map(d => d -> m.get(relOfLive(d)).orNull)
        case None =>
          // fallback: read the staged files back — under the live
          // table's schema, see above — and match by VALUE (null-safe)
          val stagedDirs = spark.read.schema(table.schema).parquet(stageDir)
            .withColumn("_sdir",
              expr("regexp_replace(input_file_name(), '/[^/]*$', '')"))
            .select(partitionCols.map(col) :+ col("_sdir"): _*)
            .distinct().collect()
            .map(r => valKey(r, partitionCols.size)
              -> r.getString(partitionCols.size)).toMap
          t.rows.map(r => r.getString(partitionCols.size) ->
            stagedDirs.get(valKey(r, partitionCols.size)).orNull).distinct
      }
    }
    val rows = manifest0.map { case (live, staged) =>
      val digest =
        if (captureStatus) dirDigest(fs, pathOfUri(live)) else ""
      (live, staged, digest)
    }
    writeManifest(fs, stageDir, rows)
  }

  /** The staged-rewrite manifest is DRIVER-SMALL by construction (one
    * row per touched partition), so since r19 it is a flat text file
    * written through the FS API, not a parquet table: the former
    * coalesce(1) parquet write was a whole Spark job per staged table
    * (and each consumer a read job + file-index resolution) purely to
    * round-trip a handful of strings — at sf0.1 the removal rows' wall
    * is job COUNT, and at 100 TB the flip window (under the exclusive
    * remove lease) should be pure metadata work. Fields are
    * URL-encoded, tab-separated (`live \t staged \t digest`; empty
    * staged = partition emptied), one row per line; the write lands on
    * a `.tmp` path and RENAMES in, so a crash mid-write leaves no
    * manifest — exactly the pre-r19 crash-before-manifest boundary. */
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            stageDir: String,
                            rows: Seq[(String, String, String)]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(stageDir + ".manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(rows.map { case (live, staged, digest) =>
      s"${enc(live)}\t${Option(staged).map(enc).getOrElse("")}\t${enc(digest)}\n"
    }.mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new org.apache.hadoop.fs.Path(stageDir + ".manifest")
    fs.delete(dest, true) // a prior parquet-dir or file manifest
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(
        s"staged-rewrite manifest could not rename $tmp -> $dest")
  }

  /** (live, stagedOrNull, digest) rows of a staged rewrite's manifest.
    * A manifest DIRECTORY is the pre-r19 parquet layout, left by an
    * older version's staged removal that crashed mid-flip. This version
    * cannot read it, and a replay without it could lose the rows of a
    * partition cut between its delete and its rename, so it is refused
    * with a clear message instead of an opaque "is a directory". */
  private[graft] def readManifest(spark: SparkSession, stageDir: String)
      : Seq[(String, String, String)] = {
    val p = new org.apache.hadoop.fs.Path(stageDir + ".manifest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.getFileStatus(p).isDirectory) throw new IllegalStateException(
      s"staged-rewrite manifest $p is a pre-r19 parquet manifest " +
        "directory, left by an older version's crashed removal; this " +
        "version cannot read it — finish the replay with the version " +
        "that staged it, or rebuild the index and re-run the removal " +
        "from scratch")
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    txt.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val f = line.split("\t", -1)
      (dec(f(0)), if (f(1).isEmpty) null else dec(f(1)), dec(f(2)))
    }
  }

  /** Decoded filesystem path of a dir (URI %XX unescaped — the on-disk
    * name), for relative-path comparison between two Spark-written
    * trees. */
  private def decodedDirPath(p: org.apache.hadoop.fs.Path): String =
    p.toUri.getPath

  /** FLIP a staged rewrite into place: for every manifest row, verify
    * the live dir's digest when one was captured (ANY drift returns
    * false — the caller falls back to its in-place rewrite, which
    * reads current state), then delete the live dir and rename the
    * staged replacement in (an emptied partition just deletes). Must
    * run under the caller's exclusive lease. Not idempotent (renames
    * consume the staged tree) — a crash mid-flip replays through the
    * caller's plan-driven in-place path, which must FIRST call
    * [[restoreStaged]]: a crash between a partition's delete and its
    * rename leaves the live dir absent with the staged replacement
    * still on disk, and an in-place rewrite alone would read the
    * partition as empty and silently lose its unrelated survivor rows
    * (review-caught r15). */
  private[graft] def applyStaged(spark: SparkSession, tableDir: String,
                                 stageDir: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(tableDir).getFileSystem(conf)
    val manifest = readManifest(spark, stageDir)
    val stale = manifest.exists { case (liveDir, _, dig) =>
      dig.nonEmpty && dig != dirDigest(fs, pathOfUri(liveDir))
    }
    if (stale) return false
    manifest.foreach { case (liveDir, stagedDir, _) =>
      val live = pathOfUri(liveDir)
      fs.delete(live, true)
      Option(stagedDir).foreach { sd =>
        val staged = pathOfUri(sd)
        if (!fs.rename(staged, live))
          throw new java.io.IOException(
            s"staged-rewrite flip could not rename $staged -> $live")
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(stageDir), true)
    fs.delete(new org.apache.hadoop.fs.Path(stageDir + ".manifest"), true)
    true
  }

  /** Crash-recovery for a cut-mid-swap [[applyStaged]]: restore every
    * manifest partition whose live dir is ABSENT while its staged
    * replacement survives (the delete-then-rename window). The staged
    * content IS the intended post-rewrite content for that partition,
    * so renaming it in completes the flip for exactly the partitions
    * the crash cut; partitions with a live dir are left alone (either
    * never flipped — the caller's in-place rewrite handles them — or
    * already flipped). No-op when no manifest survives. */
  private[graft] def restoreStaged(spark: SparkSession, tableDir: String,
                                   stageDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(tableDir).getFileSystem(conf)
    val mPath = new org.apache.hadoop.fs.Path(stageDir + ".manifest")
    if (!fs.exists(mPath)) return
    readManifest(spark, stageDir).foreach { case (liveDir, stagedDir, _) =>
      val live = pathOfUri(liveDir)
      Option(stagedDir).foreach { sd =>
        val staged = pathOfUri(sd)
        if (!fs.exists(live) && fs.exists(staged)) {
          if (!fs.rename(staged, live))
            throw new java.io.IOException(
              s"staged-rewrite recovery could not rename $staged -> $live")
        }
      }
    }
  }

  /** Collected pass-1 discovery: the touched partitions' VALUE rows
    * (one Seq[Any] per distinct partition-col tuple) and their on-disk
    * dirs, plus the value schema — driver-sized by design (r18 opt: one
    * collect replaces the former two localCheckpoint jobs + count job +
    * anti-join collect job; at sf0.1 the removal protocols spend their
    * wall on job COUNT, not data). */
  private final case class Touched(schema: org.apache.spark.sql.types.StructType,
                                   rows: Seq[org.apache.spark.sql.Row],
                                   vals: Seq[Seq[Any]], dirs: Seq[String]) {
    def localDf(spark: SparkSession): DataFrame = {
      val distinctVals = vals.distinct
      spark.createDataFrame(
        java.util.Arrays.asList(distinctVals.map(vs =>
          org.apache.spark.sql.Row(vs: _*)): _*), schema)
    }
  }

  /** Pass 1: which partitions hold marked rows, AND those partitions'
    * ON-DISK directories, in ONE scan, collected (driver-sized). The
    * dir comes from the files themselves (parent of input_file_name)
    * captured BEFORE any overwrite: reconstructing "$c=$v" from
    * partition VALUES is a trap twice over — Spark percent-escapes path
    * chars and renders null as __HIVE_DEFAULT_PARTITION__, and
    * partition type INFERENCE can change the value's string form
    * entirely (dir `day=01` reads back as long 1 → "day=1" names a path
    * that does not exist, fs.delete returns false, exists() is false,
    * and the victim files silently survive). Every file of a partition
    * shares one parent dir, and any marked row's file lives in its
    * partition's dir, so the marked rows alone name every touched dir.
    // _dir is projected BEFORE the mark join (r12): input_file_name()
    // is only defined on the scan side of the plan — evaluated after an
    // exchange (the mass-victim SHUFFLE-join mark path) it returns "",
    // and the emptied-dir cleanup would silently miss every dir.
    // Projecting it here pins the evaluation under the file scan for
    // broadcast and shuffle marks alike; mark transforms (semi-joins /
    // filters) preserve the column. */
  private def discoverTouched(table: DataFrame, partitionCols: Seq[String],
                              mark: DataFrame => DataFrame): Touched = {
    val dirOfPart = mark(table.withColumn("_dir",
        expr("regexp_replace(input_file_name(), '/[^/]*$', '')")))
      .select(partitionCols.map(col) :+ col("_dir"): _*)
      .distinct()
    val rows = dirOfPart.collect().toSeq
    Touched(
      org.apache.spark.sql.types.StructType(dirOfPart.schema.dropRight(1)),
      rows,
      rows.map(r => partitionCols.indices.map(r.get).toSeq),
      rows.map(r => r.getString(partitionCols.size)))
  }

  /** Driver-side null-safe partition-value key: Seq equality handles
    * null (and boxed-NaN, which java equals treats as equal — matching
    * the `<=>` the former anti-join used) correctly, and both sides of
    * every comparison carry the SAME Spark-read types by construction
    * (they derive from one scan of the same table). */
  private def valKey(r: org.apache.spark.sql.Row, nCols: Int): Seq[Any] =
    (0 until nCols).map(r.get)

  private def deleteImpl(spark: SparkSession, tableDir: String,
                         partitionCols: Seq[String],
                         prePrune: org.apache.spark.sql.Column,
                         mark: DataFrame => DataFrame,
                         keep: DataFrame => DataFrame): Long = {
    require(partitionCols.nonEmpty,
      "targeted delete needs a partitioned table; unpartitioned = full rewrite")
    val table = spark.read.parquet(tableDir).filter(prePrune)
    // Partition-col joins must be NULL-SAFE: parquet surfaces the
    // __HIVE_DEFAULT_PARTITION__ dir as null partition values, and a
    // plain equi-join would never match them — victims in a null
    // partition would silently survive the delete.
    def partMatch(a: DataFrame, b: DataFrame) =
      partitionCols.map(c => a(c) <=> b(c)).reduce(_ && _)
    val t = discoverTouched(table, partitionCols, mark)
    val n = t.vals.distinct.size.toLong
    if (n > 0L) {
      // pass 2: re-read ONLY those partitions, transform, overwrite
      val touched = t.localDf(spark)
      val slice = table.join(broadcast(touched), partMatch(table, touched), "left_semi")
      val remaining = keep(slice)
        .select(table.columns.map(col): _*)
        .localCheckpoint() // eager: the write overwrites what was read
      remaining
        .write.partitionBy(partitionCols: _*)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(tableDir)
      // dynamic overwrite only replaces partitions PRESENT in the
      // written frame — a partition whose every row was a victim writes
      // nothing and would silently keep its files. Remove those dirs
      // through the Hadoop FS API (works on any scheme, the
      // upsertStream lesson — never java.io.File).
      val keptVals = remaining.select(partitionCols.map(col): _*).distinct()
        .collect().map(valKey(_, partitionCols.size)).toSet
      val emptied = t.rows.collect {
        case r if !keptVals(valKey(r, partitionCols.size)) =>
          r.getString(partitionCols.size)
      }.distinct
      if (emptied.nonEmpty) {
        val fs = new org.apache.hadoop.fs.Path(tableDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        emptied.foreach { uri =>
          // input_file_name returns the URI-ENCODED form (on-disk %2F
          // prints as %252F); Path(String) keeps the escapes literal and
          // misses the dir — going through java.net.URI decodes once,
          // back to the on-disk name (verified against escaped fixtures)
          val dir = pathOfUri(uri)
          if (!fs.delete(dir, true) && fs.exists(dir))
            throw new java.io.IOException(
              s"targeted delete could not remove emptied partition $dir")
        }
      }
    }
    n
  }
}
