package graft

import org.apache.spark.sql.functions._
import graft.operators.{ClusterIndex, Fingerprint, LogicalDelete, TextIndex,
  VectorIndex}

/** Logical deletion (VERDICT r12 item 1): the tombstone-row fast path
  * must (a) blind every probe/top-k/assignment read the moment
  * logicalRemove returns, (b) subtract the fingerprint exactly once
  * across every crash boundary, and (c) after the next compact() be
  * INDISTINGUISHABLE from the physical remove — which itself equals a
  * fresh build on the survivors (IndexRemoveSpec holds that leg). The
  * interim semantics are pinned too: tombstoned ids are dead to appends
  * and physical removes until reclaim, and a double logical delete is
  * refused. */
class LogicalDeleteSpec extends SparkSpec with RemovalCrashMatrix {
  import spark.implicits._
  import IndexFixtures.{span, tmpIdx}

  private def assignMap(dir: String) = IndexFixtures.assignMap(spark, dir)

  test("cluster: blind immediately, logical-then-compact == physical remove == fresh build") {
    // the IndexRemoveSpec bridge fixture: A(10)-B(20)-C(30) chain, D(40)
    // singleton, E(50) unrelated victim
    val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
    val c = (30L, span(10, 60)); val d = (40L, span(200, 260))
    val e = (50L, span(300, 360))
    val corpus = Seq(a, b, c, d, e).toDF("doc_id", "text")
    val dir = tmpIdx("ld_cl")
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    val victims = Seq(b, e).toDF("doc_id", "text")
    ClusterIndex.logicalRemove(victims, "doc_id", "text", dir, tag = "ld1")
    // ---- IMMEDIATELY after the logical step ----
    // assignments hide the victims AND serve the bridge-split (r15
    // serve-time re-split from the adjacency log): removing B must
    // split the A-B-C chain in the SERVED map before any compact runs
    assert(assignMap(dir) === Map(10L -> 10L, 30L -> 30L, 40L -> 40L),
      s"served assignments must equal a fresh build on the survivors " +
        s"before reclaim: ${assignMap(dir)}")
    // probes are blind: a clone of E is a singleton, a clone of B may
    // still bridge A and C ONLY through live docs — it must match them,
    // never B itself
    val probedE = ClusterIndex.probe(spark, dir,
        Seq((60L, span(300, 360))).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(probedE === Map(60L -> 60L),
      s"a clone of a logically removed doc must match nothing: $probedE")
    // knownIds: the victims are not known
    val known = ClusterIndex.knownIds(spark, dir,
        Seq(10L, 20L, 50L).toDF("doc_id"), "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(known === Set(10L), s"tombstoned ids must not be known: $known")
    // fingerprint tracks the survivors already
    val survivors = Seq(a, c, d).toDF("doc_id", "text")
    assert(ClusterIndex.isFresh(spark, dir, survivors, "doc_id", "text"))
    assert(!ClusterIndex.isFresh(spark, dir, corpus, "doc_id", "text"))
    // replay of the same (tag, victims): no double subtraction
    ClusterIndex.logicalRemove(victims, "doc_id", "text", dir, tag = "ld1")
    assert(ClusterIndex.isFresh(spark, dir, survivors, "doc_id", "text"))
    // ---- interim guards ----
    val exApp = intercept[IllegalArgumentException] {
      ClusterIndex.append(Seq((20L, "brand new text under the dead id"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, tag = "ap1")
    }
    assert(exApp.getMessage.contains("logically deleted"), exApp.getMessage)
    val exPhys = intercept[IllegalArgumentException] {
      ClusterIndex.remove(Seq(d).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "t9")
    }
    assert(exPhys.getMessage.contains("pending reclaim"), exPhys.getMessage)
    val exDouble = intercept[IllegalArgumentException] {
      ClusterIndex.logicalRemove(Seq(b).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "ld2")
    }
    assert(exDouble.getMessage.contains("logically deleted"), exDouble.getMessage)
    // the ops console reports the pending batch (and not as a table)
    val rep = IndexAdmin.report(spark.sparkContext.hadoopConfiguration, dir)
    assert(rep.logicalDeletes == Seq("rm.ld1"),
      s"IndexAdmin must surface pending logical deletes: ${rep.logicalDeletes}")
    assert(!rep.tables.exists(_.name == "deleted"),
      "the tombstone dir must not be listed as a data table")
    // ---- RECLAIM: compact makes it physical ----
    ClusterIndex.compact(spark, dir)
    val after = assignMap(dir)
    assert(after === Map(10L -> 10L, 30L -> 30L, 40L -> 40L),
      s"reclaim must split the bridged component exactly like remove(): $after")
    val freshDir = java.nio.file.Files.createTempDirectory("ld_cl_f").toString
    ClusterIndex.build(survivors, "doc_id", "text", freshDir)
    assert(after === assignMap(freshDir))
    assert(ClusterIndex.isFresh(spark, dir, survivors, "doc_id", "text"))
    // no victim row survives in any table, edges included; tombstones gone
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.IndexMaintenance.liveRoot(conf, dir)
    Seq("toks", "postings", "assign").foreach { t =>
      assert(spark.read.parquet(s"$root/$t")
        .filter(col("doc_id").isin(20L, 50L)).count() == 0L,
        s"$t still holds victim rows after reclaim")
    }
    assert(spark.read.parquet(s"$root/edges")
      .filter(col("u").isin(20L, 50L) || col("v").isin(20L, 50L)).count() == 0L,
      "edge log still holds victim endpoints after reclaim")
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty,
      "tombstones must clear after reclaim")
    // the id is live again: the append that was refused now ingests
    ClusterIndex.append(Seq((20L, "brand new text under the recycled id"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, tag = "ap2")
    assert(assignMap(dir).get(20L) === Some(20L),
      "a reclaimed id must re-ingest as a fresh document")
  }

  test("cluster logical remove crash matrix: every boundary converges") {
    removalCrashMatrix("cluster.logical")
  }

  test("replay meta is interleaving-exact: an append between crash and replay survives (r15)") {
    // the latent pre-r15 hole the staged-remove review exposed: the
    // removal's replay used to overwrite meta with the ABSOLUTE target
    // persisted before the crash, wiping the fingerprint merge of any
    // append that legitimately ran in between. The metabase + tag-delta
    // reconstruction must keep meta exact across that interleaving —
    // for the logical family here (the physical family's staged specs
    // cover it in IndexRemoveSpec).
    import graft.operators.FaultInjection
    val docs = (0 until 8)
      .map(i => (i.toLong, s"interleave fixture doc $i boilerplate body"))
      .toDF("doc_id", "text")
    val dir = tmpIdx("ld_ilv")
    TextIndex.build(docs, "doc_id", "text", dir)
    val victims = docs.filter(col("doc_id") === 3L)
    // crash right after the meta overwrite landed (subtraction applied,
    // record not yet written — the double-subtract-prone boundary)
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("text.logical.meta")(
        TextIndex.logicalRemove(victims, "doc_id", "text", dir, tag = "ld1"))
    }
    // an unrelated append interleaves before the replay and merges its
    // fingerprint on top of the subtracted meta
    val extra = Seq((100L, "a wholly novel interleaved document"))
      .toDF("doc_id", "text")
    TextIndex.append(extra, "doc_id", "text", dir, tag = "mid1")
    // the replay must neither re-subtract NOR wipe the append's merge
    TextIndex.logicalRemove(victims, "doc_id", "text", dir, tag = "ld1")
    val expected = docs.filter(col("doc_id") =!= 3L).unionByName(extra)
    assert(TextIndex.isFresh(spark, dir, expected, "doc_id", "text"),
      "meta must read survivors + the interleaved append exactly")
    // and the same boundary BEFORE the meta write (subtraction not yet
    // applied): the replay must subtract once on top of the append
    val dir2 = tmpIdx("ld_ilv2")
    TextIndex.build(docs, "doc_id", "text", dir2)
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("text.logical.state")(
        TextIndex.logicalRemove(victims, "doc_id", "text", dir2, tag = "ld1"))
    }
    TextIndex.append(extra, "doc_id", "text", dir2, tag = "mid1")
    TextIndex.logicalRemove(victims, "doc_id", "text", dir2, tag = "ld1")
    assert(TextIndex.isFresh(spark, dir2, expected, "doc_id", "text"),
      "pre-meta-crash replay must subtract once on top of the append")
  }

  test("text: blind immediately, logical-then-compact == physical remove") {
    import graft.operators.FaultInjection
    val docs = (0 until 20)
      .map(i => (i.toLong, s"document number $i with some shared boilerplate text"))
      .toDF("doc_id", "text")
    val dir = tmpIdx("ld_tx")
    TextIndex.build(docs, "doc_id", "text", dir)
    val clone7 = Seq((900L, "document number 7 with some shared boilerplate text"))
      .toDF("doc_id", "text")
    assert(TextIndex.probe(spark, dir, clone7, "doc_id", "text").count() == 1L)
    val victims = docs.filter(col("doc_id") === 7L)
    // crash boundaries converge for the text family too
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("text.logical.record")(
        TextIndex.logicalRemove(victims, "doc_id", "text", dir, tag = "ld1"))
    }
    TextIndex.logicalRemove(victims, "doc_id", "text", dir, tag = "ld1")
    // blind immediately; survivors still match
    assert(TextIndex.probe(spark, dir, clone7, "doc_id", "text").count() == 0L,
      "probe must be blind right after the logical step")
    val clone3 = Seq((901L, "document number 3 with some shared boilerplate text"))
      .toDF("doc_id", "text")
    assert(TextIndex.probe(spark, dir, clone3, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(901L -> 3L))
    val survivors = docs.filter(col("doc_id") =!= 7L)
    assert(TextIndex.isFresh(spark, dir, survivors, "doc_id", "text"))
    // appends of the dead id are refused; other appends proceed
    val exApp = intercept[IllegalArgumentException] {
      TextIndex.append(Seq((7L, "new content under the dead id"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, tag = "ap1")
    }
    assert(exApp.getMessage.contains("logically deleted"), exApp.getMessage)
    TextIndex.append(Seq((100L, "a wholly novel appended document"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, tag = "ap2")
    // reclaim: rows physically gone, probe still blind, tombstones cleared
    TextIndex.compact(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.IndexMaintenance.liveRoot(conf, dir)
    Seq("bands", "toks").foreach { t =>
      assert(spark.read.parquet(s"$root/$t")
        .filter(col("doc_id") === 7L).count() == 0L,
        s"$t still holds victim rows after reclaim")
    }
    assert(TextIndex.probe(spark, dir, clone7, "doc_id", "text").count() == 0L)
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty)
    assert(TextIndex.isFresh(spark, dir,
      survivors.unionByName(Seq((100L, "a wholly novel appended document"))
        .toDF("doc_id", "text")), "doc_id", "text"),
      "fingerprint must track survivors + the interleaved append")
  }

  test("vector: top-k and dup-probe blind immediately, compact reclaims") {
    import graft.operators.FaultInjection
    val corpus = Tables.embeddings(spark, sf0001)
    val dir = tmpIdx("ld_vx")
    VectorIndex.build(corpus, dir, nlist = 8)
    val victims = corpus.filter(col("vec_id") === 7L).localCheckpoint()
    val probe7 = victims
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    assert(VectorIndex.topK(spark, dir, probe7, k = 1).collect()
      .head.getAs[Long]("vec_id") == 7L, "pre-remove: self is nearest")
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("vector.logical.meta")(
        VectorIndex.logicalRemove(victims, dir, tag = "ld1"))
    }
    VectorIndex.logicalRemove(victims, dir, tag = "ld1")
    // blind immediately
    assert(VectorIndex.topK(spark, dir, probe7, k = 5).collect()
      .forall(_.getAs[Long]("vec_id") != 7L),
      "top-k must not return a logically removed vector")
    assert(VectorIndex.probeDups(spark, dir, victims, tau = 0.999)
      .filter(col("dup_of") === 7L).count() == 0L,
      "dup-probe must not witness a logically removed vector")
    assert(VectorIndex.isFresh(spark, dir, corpus.filter(col("vec_id") =!= 7L)))
    // appends of the dead id refuse
    val exApp = intercept[IllegalArgumentException] {
      VectorIndex.append(victims, dir, tag = "ap1")
    }
    assert(exApp.getMessage.contains("logically deleted"), exApp.getMessage)
    // reclaim == the physical remove's table state
    VectorIndex.compact(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.IndexMaintenance.liveRoot(conf, dir)
    assert(spark.read.parquet(s"$root/cells")
      .filter(col("vec_id") === 7L).count() == 0L)
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty)
    assert(VectorIndex.topK(spark, dir, probe7, k = 5).collect()
      .forall(_.getAs[Long]("vec_id") != 7L))
  }

  test("compact refuses while a crashed PHYSICAL removal pends") {
    // the r13 beginCompact guard: a crashed physical remove's persisted
    // plan references this generation's (_src, bucket) partitions;
    // folding would remap _src values and orphan the replay
    import graft.operators.FaultInjection
    val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
    val corpus = Seq(a, b).toDF("doc_id", "text")
    val dir = tmpIdx("ld_cpr")
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("cluster.record")(
        ClusterIndex.remove(Seq(b).toDF("doc_id", "text"),
          "doc_id", "text", dir, tag = "t1"))
    }
    val ex = intercept[IllegalArgumentException] { ClusterIndex.compact(spark, dir) }
    assert(ex.getMessage.contains("never completed"), ex.getMessage)
    // replay, then compact proceeds
    ClusterIndex.remove(Seq(b).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "t1")
    ClusterIndex.compact(spark, dir)
    assert(assignMap(dir) === Map(10L -> 10L))
  }

  test("ingest loops drop dead ids instead of wedging on the append refusal") {
    // review-caught r13: appends REFUSE tombstoned ids, so a re-crawl of
    // a logically deleted id arriving in a streaming micro-batch would
    // throw past the applied/ marker and replay-fail forever, taking
    // every other doc in the batch down with it. The loops must filter
    // dead ids up front (dead-until-reclaim), ingest the rest, and admit
    // the id again after compact() frees it.
    import graft.streaming.S4Stream
    val docs = (0 until 10)
      .map(i => (i.toLong, s"stream doc $i with shared boilerplate body"))
      .toDF("doc_id", "text")
    val dir = tmpIdx("ld_loop")
    val lake = java.nio.file.Files.createTempDirectory("ld_loop_lake").toString
    TextIndex.build(docs, "doc_id", "text", dir)
    TextIndex.logicalRemove(docs.filter(col("doc_id") === 4L),
      "doc_id", "text", dir, tag = "ld1")
    // batch: a re-crawl of dead id 4 (changed content) + a novel doc
    val batch = Seq(
      (4L, "completely new content under the dead id"),
      (100L, "a wholly novel streamed document")).toDF("doc_id", "text")
    S4Stream.processIndexedDedupBatch(batch, 0L, "doc_id", "text",
      dir, lake, "runA") // must NOT throw
    val lakeIds = spark.read.parquet(lake)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lakeIds === Set(100L),
      s"novel doc ingests, dead id drops until reclaim: $lakeIds")
    // after reclaim the id is free: the re-crawl ingests on its next visit
    TextIndex.compact(spark, dir)
    S4Stream.processIndexedDedupBatch(
      Seq((4L, "completely new content under the dead id")).toDF("doc_id", "text"),
      1L, "doc_id", "text", dir, lake, "runA")
    assert(spark.read.parquet(lake).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(100L, 4L))
  }

  test("logicalRemove refuses on a pre-r11 index without an adjacency log") {
    // review-caught r13: compact's reclaim re-split reads the edges
    // table; accepting a tombstone on a legacy tree would brick every
    // later compact (and remove() refuses while tombstones pend) —
    // refuse up front, before anything mutates
    val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
    val corpus = Seq(a, b).toDF("doc_id", "text")
    val dir = tmpIdx("ld_legacy")
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.IndexMaintenance.liveRoot(conf, dir)
    val edges = new org.apache.hadoop.fs.Path(s"$root/edges")
    assert(edges.getFileSystem(conf).delete(edges, true))
    val ex = intercept[IllegalArgumentException] {
      ClusterIndex.logicalRemove(Seq(b).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "t1")
    }
    assert(ex.getMessage.contains("adjacency log"), ex.getMessage)
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty,
      "refusal must leave no tombstone behind")
    assert(ClusterIndex.isFresh(spark, dir, corpus, "doc_id", "text"),
      "refusal must not touch the fingerprint")
  }

  test("reclaim cleanup clears only its lease-time batch snapshot") {
    // direct pin of the r13 review fix: compact()/retrain() clear
    // tombstones AFTER finishCompact released the lease, so a
    // logicalRemove racing into that window may have added a new batch
    // — clearBatches must leave it pending instead of deleting the
    // whole set (which would resurrect its victims while meta records
    // them subtracted)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ld_snap").toString + "/idx"
    val conf = spark.sparkContext.hadoopConfiguration
    LogicalDelete.write(Seq(1L, 2L).toDF("doc_id"), "doc_id", dir, "rm.a")
    val snapshot = LogicalDelete.pendingBatches(conf, dir)
    assert(snapshot === Seq("rm.a"))
    // the race: a new batch lands after the snapshot
    LogicalDelete.write(Seq(9L).toDF("doc_id"), "doc_id", dir, "rm.b")
    LogicalDelete.clearBatches(conf, dir, snapshot)
    assert(LogicalDelete.pendingBatches(conf, dir) === Seq("rm.b"),
      "a batch written after the snapshot must survive the cleanup")
    // and ids() still serves the survivor
    assert(LogicalDelete.ids(spark, dir).get.collect().map(_.getLong(0)).toSet
      === Set(9L))
    // clearing the remainder empties the dir entirely (fast path restored)
    LogicalDelete.clearBatches(conf, dir, Seq("rm.b"))
    assert(LogicalDelete.ids(spark, dir).isEmpty)
  }

  test("a half-written tombstone batch is never listed or read; the next write replaces it") {
    val dir = java.nio.file.Files.createTempDirectory("ld_tmp").toString + "/idx"
    val conf = spark.sparkContext.hadoopConfiguration
    LogicalDelete.write(Seq(9L).toDF("doc_id"), "doc_id", dir, "rm.b")
    // a write of rm.a that crashed before its publishing rename
    val leftover = s"${LogicalDelete.dir(dir)}/_tmp.batch=rm.a"
    Seq(1L, 2L).toDF("doc_id").write.parquet(leftover)
    assert(LogicalDelete.pendingBatches(conf, dir) === Seq("rm.b"))
    assert(LogicalDelete.ids(spark, dir).get.collect().map(_.getLong(0)).toSet
      === Set(9L), "the unpublished batch must not be read")
    LogicalDelete.write(Seq(7L).toDF("doc_id"), "doc_id", dir, "rm.a")
    assert(LogicalDelete.pendingBatches(conf, dir) === Seq("rm.a", "rm.b"))
    assert(LogicalDelete.ids(spark, dir).get.collect().map(_.getLong(0)).toSet
      === Set(7L, 9L), "the rewrite replaces the leftover's rows")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(leftover)))
    // a published batch is complete: a replayed write leaves it as is
    LogicalDelete.write(Seq(7L).toDF("doc_id"), "doc_id", dir, "rm.a")
    assert(LogicalDelete.ids(spark, dir).get.count() === 2L)
  }

  test("tombstone probe: ONE FS metadata call on the no-pending path") {
    // ADVICE r13: exists() + listStatus() was two LIST round-trips per
    // index read on an object store; the fast path must cost exactly one
    CountingMockFs.install(spark)
    val base = java.nio.file.Files.createTempDirectory("ld_meta").toString
    val dir = s"mock://$base/idx"
    val conf = spark.sparkContext.hadoopConfiguration
    // no-pending path (deleted/ never existed)
    CountingMockFs.reset()
    assert(LogicalDelete.ids(spark, dir).isEmpty)
    assert(CountingMockFs.metaCallsUnder(s"$base/idx/deleted") == 1,
      s"no-pending ids() must cost exactly one metadata call, saw " +
        s"${CountingMockFs.metaCallsUnder(s"$base/idx/deleted")}")
    // same bound for the batch-name listing the ops console uses
    CountingMockFs.reset()
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty)
    assert(CountingMockFs.metaCallsUnder(s"$base/idx/deleted") == 1)
    // positive control: a pending batch IS still found through the same
    // single-listStatus path
    LogicalDelete.write(Seq(7L).toDF("doc_id"), "doc_id", dir, "rm.x")
    assert(LogicalDelete.ids(spark, dir).get.collect()
      .map(_.getLong(0)).toSet === Set(7L))
  }

  test("replay of a COMPLETED logical remove is a no-op (post-reclaim re-ingest stays visible)") {
    // ADVICE r13 (medium): wasApplied=true + empty removal state proves
    // the prior run finished; rewriting the tombstone batch would
    // re-hide an id legitimately re-ingested after compact() reclaimed
    // it — and the next compact would physically drop the NEW document
    val docs = (0 until 8)
      .map(i => (i.toLong, s"completed replay fixture doc $i boilerplate"))
      .toDF("doc_id", "text")
    val dir = tmpIdx("ld_cr")
    val conf = spark.sparkContext.hadoopConfiguration
    TextIndex.build(docs, "doc_id", "text", dir)
    val victims = docs.filter(col("doc_id") === 3L)
    TextIndex.logicalRemove(victims, "doc_id", "text", dir, tag = "ld1")
    TextIndex.compact(spark, dir) // reclaim: tombstone cleared
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty)
    // id 3 is legitimately re-ingested with NEW content after reclaim
    TextIndex.append(Seq((3L, "completely new post-reclaim content three"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, tag = "re3")
    // an at-least-once orchestrator re-fires the old, completed removal
    TextIndex.logicalRemove(victims, "doc_id", "text", dir, tag = "ld1")
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty,
      "a completed replay must not rewrite the tombstone batch")
    // the re-ingested doc is still probe-visible
    assert(TextIndex.probe(spark, dir,
      Seq((900L, "completely new post-reclaim content three"))
        .toDF("doc_id", "text"), "doc_id", "text").count() == 1L,
      "re-ingested id must stay visible after the completed replay")
    // the PHYSICAL verbs: a re-fired completed remove must not erase the
    // re-ingested rows while the append's fingerprint stays merged
    val reText = Seq((3L, "completely new post-removal content three"))
      .toDF("doc_id", "text")
    val pDir = tmpIdx("ld_crp")
    TextIndex.build(docs, "doc_id", "text", pDir)
    TextIndex.remove(victims, "doc_id", "text", pDir, tag = "pr1")
    TextIndex.append(reText, "doc_id", "text", pDir, tag = "re3")
    TextIndex.remove(victims, "doc_id", "text", pDir, tag = "pr1")
    assert(TextIndex.probe(spark, pDir, reText.select(lit(900L).as("doc_id"),
        col("text")), "doc_id", "text").count() == 1L,
      "a completed physical replay erased the re-ingested text rows")
    assert(TextIndex.isFresh(spark, pDir,
      docs.filter(col("doc_id") =!= 3L).unionByName(reText), "doc_id", "text"))
    val vecs = Tables.embeddings(spark, sf0001).select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 40L).localCheckpoint()
    val vVictims = vecs.filter(col("vec_id") === 7L)
    val reVec = vVictims.select(col("vec_id"),
      transform(col("embedding"), x => -x).as("embedding")).localCheckpoint()
    val vDir = tmpIdx("ld_crv")
    VectorIndex.build(vecs, vDir, nlist = 4)
    VectorIndex.remove(vVictims, vDir, tag = "pr1")
    VectorIndex.append(reVec, vDir, tag = "re7")
    VectorIndex.remove(vVictims, vDir, tag = "pr1")
    assert(VectorIndex.topK(spark, vDir, reVec.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb")), k = 40, nprobe = 4)
      .filter(col("vec_id") === 7L).count() == 1L,
      "a completed physical replay erased the re-ingested vector")
    assert(VectorIndex.isFresh(spark, vDir,
      vecs.filter(col("vec_id") =!= 7L).unionByName(reVec)))
  }

  test("wrong-content victims refuse in all three families (r14 content-aware known-check)") {
    // an id-only known-check would let a victim row with the right id
    // but WRONG content subtract a fingerprint the index never merged —
    // isFresh would read false forever with no signal. The r14 check
    // requires the stored content (token set / exact embedding) to match.
    import spark.implicits._
    // text family
    val tDocs = (0 until 6)
      .map(i => (i.toLong, s"content gate text fixture doc $i body"))
      .toDF("doc_id", "text")
    val tIdx = tmpIdx("cg_tx")
    TextIndex.build(tDocs, "doc_id", "text", tIdx)
    val wrongText = Seq((2L, "entirely different words here")).toDF("doc_id", "text")
    val exT = intercept[IllegalArgumentException] {
      TextIndex.logicalRemove(wrongText, "doc_id", "text", tIdx, tag = "cg1")
    }
    assert(exT.getMessage.contains("matching content"), exT.getMessage)
    val exT2 = intercept[IllegalArgumentException] {
      TextIndex.remove(wrongText, "doc_id", "text", tIdx, tag = "cg2")
    }
    assert(exT2.getMessage.contains("matching content"), exT2.getMessage)
    // the exact row still removes fine
    TextIndex.logicalRemove(tDocs.filter(col("doc_id") === 2L),
      "doc_id", "text", tIdx, tag = "cg3")
    assert(LogicalDelete.pendingBatches(
      spark.sparkContext.hadoopConfiguration, tIdx).nonEmpty)
    // CONTENT-SET semantics (r14): per victim id, the distinct victim
    // contents must equal the stored distinct contents. Conflicting
    // content (one right row, one wrong) mismatches and refuses
    val tIdx2 = tmpIdx("cg_tx2")
    TextIndex.build(tDocs, "doc_id", "text", tIdx2)
    val v3 = tDocs.filter(col("doc_id") === 3L)
    val exCon = intercept[IllegalArgumentException] {
      TextIndex.remove(Seq((4L, "content gate text fixture doc 4 body"),
        (4L, "some other words entirely")).toDF("doc_id", "text"),
        "doc_id", "text", tIdx2, tag = "dup2")
    }
    assert(exCon.getMessage.contains("matching content"), exCon.getMessage)
    // MULTI-VERSION ids (the multiset point — re-crawls ingest as new
    // rows in this family): a takedown passing ALL versions succeeds
    // and subtracts both; a PARTIAL one refuses (the delete is
    // id-keyed, subtracting one version would drift meta silently)
    TextIndex.append(Seq((3L, "recrawled version of doc three"))
      .toDF("doc_id", "text"), "doc_id", "text", tIdx2, tag = "re3")
    val exPart = intercept[IllegalArgumentException] {
      TextIndex.logicalRemove(v3, "doc_id", "text", tIdx2, tag = "part1")
    }
    assert(exPart.getMessage.contains("matching content"), exPart.getMessage)
    TextIndex.logicalRemove(
      v3.union(Seq((3L, "recrawled version of doc three"))
        .toDF("doc_id", "text")),
      "doc_id", "text", tIdx2, tag = "full1")
    TextIndex.compact(spark, tIdx2)
    assert(TextIndex.isFresh(spark, tIdx2,
      tDocs.filter(col("doc_id") =!= 3L), "doc_id", "text"),
      "a full multi-version takedown must subtract every version exactly")
    // cluster family
    val cDocs = Seq((10L, span(0, 50)), (20L, span(200, 260)))
      .toDF("doc_id", "text")
    val cIdx = tmpIdx("cg_cl")
    ClusterIndex.build(cDocs, "doc_id", "text", cIdx)
    val exC = intercept[IllegalArgumentException] {
      ClusterIndex.logicalRemove(Seq((10L, span(300, 360)))
        .toDF("doc_id", "text"), "doc_id", "text", cIdx, tag = "cg1")
    }
    assert(exC.getMessage.contains("matching content"), exC.getMessage)
    // vector family: exact embedding match
    val vecs = (0 until 8).map(i =>
      (i.toLong, (0 until 4).map(d => math.sin(i * 31 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val vIdx = tmpIdx("cg_vec")
    VectorIndex.build(vecs, vIdx, nlist = 2)
    val wrongVec = Seq((3L, Seq(9.9f, 9.9f, 9.9f, 9.9f)))
      .toDF("vec_id", "embedding")
    val exV = intercept[IllegalArgumentException] {
      VectorIndex.logicalRemove(wrongVec, vIdx, tag = "cg1")
    }
    assert(exV.getMessage.contains("matching content"), exV.getMessage)
    // the exact row still removes fine
    VectorIndex.logicalRemove(vecs.filter(col("vec_id") === 3L), vIdx,
      tag = "cg2")
    assert(VectorIndex.topK(spark, vIdx,
      vecs.filter(col("vec_id") === 3L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      k = 8).filter(col("vec_id") === 3L).count() == 0L,
      "the correctly-removed vector must be blind in topK")
  }

  test("rebuild clears pending tombstones (recycled ids must not stay hidden)") {
    val docs = (0 until 8)
      .map(i => (i.toLong, s"rebuild fixture doc $i shared boilerplate"))
      .toDF("doc_id", "text")
    val dir = tmpIdx("ld_rb")
    TextIndex.build(docs, "doc_id", "text", dir)
    TextIndex.logicalRemove(docs.filter(col("doc_id") === 2L),
      "doc_id", "text", dir, tag = "ld1")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(LogicalDelete.pendingBatches(conf, dir).nonEmpty)
    // a full rebuild over a corpus that RECYCLES id 2
    TextIndex.build(docs, "doc_id", "text", dir)
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty,
      "build must clear tombstones")
    assert(TextIndex.probe(spark, dir,
      Seq((900L, "rebuild fixture doc 2 shared boilerplate"))
        .toDF("doc_id", "text"), "doc_id", "text").count() == 1L,
      "the rebuilt corpus' rows must be visible under the recycled id")
  }

  test("term family: blind + survivor-exact immediately; crash matrix converges (r15)") {
    removalCrashMatrix("term.logical")
  }

  test("serve-overlay: persisted re-split serves reads; stale/missing falls back (r15)") {
    import graft.operators.{FaultInjection, IndexMaintenance}
    val conf = spark.sparkContext.hadoopConfiguration
    val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
    val c = (30L, span(10, 60))

    // ---- (1) the overlay, not the adjacency log, serves reads:
    // logicalRemove persists the re-split, so assignments must survive
    // the edge log being UNREADABLE (the live recompute could not)
    locally {
      val dir = tmpIdx("ld_ov1")
      ClusterIndex.build(Seq(a, b, c).toDF("doc_id", "text"), "doc_id", "text", dir)
      ClusterIndex.logicalRemove(Seq(b).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "ov1")
      val root = IndexMaintenance.liveRoot(conf, dir)
      val edges = new org.apache.hadoop.fs.Path(s"$root/edges")
      val stash = new org.apache.hadoop.fs.Path(s"$root/edges_stashed")
      edges.getFileSystem(conf).rename(edges, stash)
      assert(assignMap(dir) === Map(10L -> 10L, 30L -> 30L),
        "serve must come from the persisted overlay (edge log is stashed)")
      stash.getFileSystem(conf).rename(stash, edges)
    }

    // ---- (2) crash between the tombstone write and the overlay write:
    // serves fall back to the live recompute (still fresh-CC-correct),
    // and the replay rewrites the overlay idempotently
    locally {
      val dir = tmpIdx("ld_ov2")
      ClusterIndex.build(Seq(a, b, c).toDF("doc_id", "text"), "doc_id", "text", dir)
      intercept[FaultInjection.InjectedCrash] {
        FaultInjection.armed("cluster.logical.overlay")(
          ClusterIndex.logicalRemove(Seq(b).toDF("doc_id", "text"),
            "doc_id", "text", dir, tag = "ov2"))
      }
      assert(assignMap(dir) === Map(10L -> 10L, 30L -> 30L),
        "with no overlay committed, serve must recompute live and still split")
      ClusterIndex.logicalRemove(Seq(b).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "ov2") // replay converges + writes overlay
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        LogicalDelete.overlayMetaDir(dir))),
        "the replay must commit the overlay the crash skipped")
    }

    // ---- (3) an append since the removal INVALIDATES the overlay: a
    // fresh doc with B's content re-bridges the split survivors, and the
    // served map must reflect it (== fresh CC over the union corpus)
    locally {
      val dir = tmpIdx("ld_ov3")
      ClusterIndex.build(Seq(a, b, c).toDF("doc_id", "text"), "doc_id", "text", dir)
      ClusterIndex.logicalRemove(Seq(b).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "ov3")
      assert(assignMap(dir) === Map(10L -> 10L, 30L -> 30L))
      ClusterIndex.append(Seq((21L, span(5, 55))).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "ap-ov3")
      assert(assignMap(dir) === Map(10L -> 10L, 30L -> 10L, 21L -> 10L),
        "a stale overlay must never be served: the append re-bridged " +
          s"A and C through doc 21, got ${assignMap(dir)}")
      // reclaim folds everything physically and tidies the overlay dirs
      ClusterIndex.compact(spark, dir)
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        LogicalDelete.overlayMetaDir(dir))) &&
        !fs.exists(new org.apache.hadoop.fs.Path(LogicalDelete.overlayDir(dir))),
        "reclaim must tidy the stale overlay with its batches")
      assert(assignMap(dir) === Map(10L -> 10L, 30L -> 10L, 21L -> 10L))
    }
  }
}
