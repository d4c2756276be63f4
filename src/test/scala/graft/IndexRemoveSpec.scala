package graft

import org.apache.spark.sql.functions._
import graft.operators.{ClusterIndex, Fingerprint, TermIndex, TextIndex, VectorIndex}

/** Index-side targeted delete (VERDICT r10 item 1): removing docs from
  * the persisted indexes must equal a fresh build over the surviving
  * corpus — rows gone from every table, components re-SPLIT where the
  * victim was the bridge (the one case append's quotient argument
  * deliberately does not cover), the meta fingerprint subtracted
  * exactly, probes blind to the removed docs, and the whole operation
  * replay-idempotent. */
class IndexRemoveSpec extends SparkSpec with RemovalCrashMatrix {
  import spark.implicits._
  import IndexFixtures.span

  private def assignMap(dir: String) = IndexFixtures.assignMap(spark, dir)

  test("removing a bridge doc splits its component; result == fresh build on survivors") {
    // chain A(10)-B(20)-C(30): J(A,B) = J(B,C) ≈ 0.818 >= 0.8 but
    // J(A,C) ≈ 0.667 < 0.8 — B is the bridge. D(40) is an unrelated
    // singleton; E(50) near-dups nothing and gets removed too.
    val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
    val c = (30L, span(10, 60)); val d = (40L, span(200, 260))
    val e = (50L, span(300, 360))
    val corpus = Seq(a, b, c, d, e).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_cl").toString + "/idx"
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    assert(assignMap(dir) === Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 50L -> 50L), "fixture must form the A-B-C chain")
    val victims = Seq(b, e).toDF("doc_id", "text")
    ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "take1")
    // the component SPLIT: A and C fall apart without the bridge
    val after = assignMap(dir)
    assert(after === Map(10L -> 10L, 30L -> 30L, 40L -> 40L),
      s"bridge removal must split the component: $after")
    // full equivalence against a fresh build on the survivors, tables
    // and fingerprint both
    val freshDir = java.nio.file.Files.createTempDirectory("rm_cl_fresh").toString
    val survivors = Seq(a, c, d).toDF("doc_id", "text")
    ClusterIndex.build(survivors, "doc_id", "text", freshDir)
    assert(after === assignMap(freshDir))
    assert(ClusterIndex.isFresh(spark, dir, survivors, "doc_id", "text"),
      "fingerprint must equal the surviving corpus exactly")
    assert(!ClusterIndex.isFresh(spark, dir, corpus, "doc_id", "text"))
    // probes are blind to the removed docs: a clone of E is a singleton
    val probed = ClusterIndex.probe(spark, dir,
        Seq((60L, span(300, 360))).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(probed === Map(60L -> 60L),
      s"a clone of a removed doc must match nothing: $probed")
    // knownIds no longer reports the victims
    val known = ClusterIndex.knownIds(spark, dir,
        Seq(10L, 20L, 50L).toDF("doc_id"), "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(known === Set(10L), s"victims must leave knownIds: $known")
    // no stale postings/toks rows survive anywhere (mergeSchema-free
    // count by id over both tables)
    val root = graft.operators.IndexMaintenance.liveRoot(
      spark.sparkContext.hadoopConfiguration, dir)
    Seq("toks", "postings").foreach { t =>
      val leak = spark.read.parquet(s"$root/$t")
        .filter(col("doc_id").isin(20L, 50L)).count()
      assert(leak == 0L, s"$t still holds $leak victim rows")
    }
  }

  test("removing an identical-clique REPRESENTATIVE keeps the clique together") {
    // The r11 adjacency log stores build connectivity in set-node form
    // precisely for this case: docs 10/20/30 share ONE token set, so
    // the sparse star form would route 20-30's connectivity through rep
    // 10 — storing that and deleting 10 would falsely split them. The
    // virtual set node can never be a victim, so the clique holds.
    val t = span(0, 50)
    val corpus = Seq((10L, t), (20L, t), (30L, t), (40L, span(100, 150)))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_clique").toString
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    assert(assignMap(dir) === Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L))
    ClusterIndex.remove(Seq((10L, t)).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "repkill")
    val after = assignMap(dir)
    assert(after === Map(20L -> 20L, 30L -> 20L, 40L -> 40L),
      s"survivors of the clique must stay one component under rep 20: $after")
    assert(ClusterIndex.isFresh(spark, dir,
      Seq((20L, t), (30L, t), (40L, span(100, 150))).toDF("doc_id", "text"),
      "doc_id", "text"))
    // and a second removal from the same clique still works off the log
    ClusterIndex.remove(Seq((20L, t)).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "repkill2")
    assert(assignMap(dir) === Map(30L -> 30L, 40L -> 40L))
  }

  test("re-ingesting a removed id cannot alias set nodes across generations") {
    // review-caught: with UNSALTED set-node ids (-(rep)-1), removing id
    // 5 and re-ingesting it under different text re-creates the SAME
    // virtual node, conflating the old and new token sets — a later
    // re-split whose survivors span both worlds would falsely merge
    // them. The generation-salted encoding keeps the worlds apart.
    val t1 = span(0, 50); val t3 = span(100, 150)
    val corpus = Seq((5L, t1), (7L, t1), (9L, t1), (11L, t3), (13L, t3))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_alias").toString
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    assert(assignMap(dir) === Map(5L -> 5L, 7L -> 5L, 9L -> 5L,
      11L -> 11L, 13L -> 11L))
    ClusterIndex.remove(Seq((5L, t1)).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "rm1")
    assert(assignMap(dir) === Map(7L -> 7L, 9L -> 7L, 11L -> 11L, 13L -> 11L))
    // the freed id returns with UNRELATED text and joins the OTHER cluster
    ClusterIndex.append(Seq((5L, t3)).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "re1")
    assert(assignMap(dir) === Map(7L -> 7L, 9L -> 7L,
      5L -> 5L, 11L -> 5L, 13L -> 5L))
    // victims span BOTH components: the re-split's survivor subgraph
    // contains doc 9 (old-text world) and docs 5/13 (new-text world) —
    // an aliased node would bridge them
    ClusterIndex.remove(Seq((7L, t1), (11L, t3)).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "rm2")
    val after = assignMap(dir)
    assert(after === Map(9L -> 9L, 5L -> 5L, 13L -> 5L),
      s"aliased set nodes would merge 9 into 5's component: $after")
    val survivors = Seq((9L, t1), (5L, t3), (13L, t3)).toDF("doc_id", "text")
    assert(ClusterIndex.isFresh(spark, dir, survivors, "doc_id", "text"))
  }

  test("cluster remove replays idempotently and refuses unknown victims") {
    val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
    val corpus = Seq(a, b).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_cl2").toString
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    // remove works on appended generations too
    ClusterIndex.append(Seq((30L, span(5, 55))).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "ap0")
    val victims = Seq(b).toDF("doc_id", "text")
    ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "take1")
    val after = assignMap(dir)
    // 10 and 30 are both copies of different spans: J(A, 30) = 0.818 —
    // still one component through the direct edge
    assert(after === Map(10L -> 10L, 30L -> 10L), s"$after")
    val surv = Seq(a, (30L, span(5, 55))).toDF("doc_id", "text")
    assert(ClusterIndex.isFresh(spark, dir, surv, "doc_id", "text"))
    // crash-replay: same tag + same victims — rows already gone, the
    // fingerprint must NOT subtract twice
    ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "take1")
    assert(assignMap(dir) === after)
    assert(ClusterIndex.isFresh(spark, dir, surv, "doc_id", "text"),
      "replayed remove must not drift the fingerprint")
    // a DIFFERENT victim set under the used tag is refused
    val exTag = intercept[IllegalArgumentException] {
      ClusterIndex.remove(Seq(a).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "take1")
    }
    assert(exTag.getMessage.contains("already used"))
    // an unknown victim is refused before anything mutates
    val exUnknown = intercept[IllegalArgumentException] {
      ClusterIndex.remove(Seq((99L, "never ingested text right here"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, tag = "take2")
    }
    assert(exUnknown.getMessage.contains("indexed"))
    assert(assignMap(dir) === after, "refused remove must not mutate")
  }

  test("cluster remove crash-replay matrix: every commit window converges") {
    // ADVICE r11: the r11 protocol re-discovered affected components
    // from the assign table the rewrites mutate, and double-subtracted
    // the fingerprint when a crash landed between the meta write and the
    // replay record. The plan-first protocol must converge from EVERY
    // boundary: plan committed / meta written / replay recorded / assign
    // rewritten / toks deleted.
    import graft.operators.FaultInjection
    val steps = Seq("cluster.plan", "cluster.meta", "cluster.record",
      "cluster.assign", "cluster.toks")
    steps.foreach { step =>
      val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
      val c = (30L, span(10, 60)); val d = (40L, span(200, 260))
      val corpus = Seq(a, b, c, d).toDF("doc_id", "text")
      val dir = java.nio.file.Files.createTempDirectory("rm_crash").toString + "/idx"
      ClusterIndex.build(corpus, "doc_id", "text", dir)
      val victims = Seq(b).toDF("doc_id", "text")
      intercept[FaultInjection.InjectedCrash] {
        FaultInjection.armed(step)(
          ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "t1"))
      }
      // the replay (same tag + victims) must complete and converge
      ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "t1")
      val after = assignMap(dir)
      assert(after === Map(10L -> 10L, 30L -> 30L, 40L -> 40L),
        s"[$step] replay must split the bridged component: $after")
      val survivors = Seq(a, c, d).toDF("doc_id", "text")
      assert(ClusterIndex.isFresh(spark, dir, survivors, "doc_id", "text"),
        s"[$step] fingerprint drifted — the subtraction is not idempotent")
      val root = graft.operators.IndexMaintenance.liveRoot(
        spark.sparkContext.hadoopConfiguration, dir)
      Seq("toks", "postings").foreach { t =>
        assert(spark.read.parquet(s"$root/$t")
          .filter(col("doc_id") === 20L).count() == 0L,
          s"[$step] $t still holds victim rows after replay")
      }
      assert(spark.read.parquet(s"$root/edges")
        .filter(col("u") === 20L || col("v") === 20L).count() == 0L,
        s"[$step] edge log still holds victim rows after replay")
      // rmstate cleaned up on completion
      assert(!new java.io.File(s"$dir/rmstate").exists() ||
        new java.io.File(s"$dir/rmstate").listFiles().isEmpty,
        s"[$step] removal state must be cleared on completion")
    }
  }

  test("cluster remove replay survives a PARTIALLY-FLIPPED assign rewrite") {
    // The exact ADVICE r11 stranding scenario: dynamic partition
    // overwrite commits per-partition, so a crash mid-rewrite can leave
    // the victim's partition flipped (its assign row GONE) while a
    // survivor needing a remap still holds the old component id. A
    // replay that re-discovered victims from assign would find none and
    // strand the survivor; the plan-driven replay must converge.
    import graft.operators.FaultInjection
    val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
    val c = (30L, span(10, 60))
    val corpus = Seq(a, b, c).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_flip").toString + "/idx"
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    val victims = Seq(b).toDF("doc_id", "text")
    // crash right after the PLAN commit — no rewrite has run yet (r15:
    // the plan lands in window B, after the fingerprint record; the
    // rewrites still only ever start after PLAN_READY)
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("cluster.plan")(
        ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "t1"))
    }
    // simulate the partial flip: surgically remove ONLY the victim's
    // assign row (its partition "committed") while survivors 10/30 keep
    // their stale component-10 rows
    val root = graft.operators.IndexMaintenance.liveRoot(
      spark.sparkContext.hadoopConfiguration, dir)
    graft.operators.TargetedDelete.delete(spark, s"$root/assign",
      Seq("_src", "idb"), "doc_id", Seq(20L).toDF("doc_id"))
    assert(assignMap(dir) === Map(10L -> 10L, 30L -> 10L),
      "pre-replay: survivor 30 is stranded on the old component")
    // the plan-driven replay must still re-split 30 into its own
    // component — discovery from the mutated table would find no victims
    ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "t1")
    val after = assignMap(dir)
    assert(after === Map(10L -> 10L, 30L -> 30L),
      s"plan-driven replay must rescue the stranded survivor: $after")
    assert(ClusterIndex.isFresh(spark, dir,
      Seq(a, c).toDF("doc_id", "text"), "doc_id", "text"))
  }

  test("staged remove: barrier blinds during staging, interleaved appends survive, stale plans fall back (r15)") {
    // VERDICT r14 item 6: the rewrites stage LEASE-FREE behind a victim
    // barrier; window C validates the plan against interleaved appends.
    // Crash at cluster.stage = the staging completed but the flip never
    // ran — the widest interleaving window.
    import graft.operators.{FaultInjection, LogicalDelete}
    val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
    val c = (30L, span(10, 60)); val d = (40L, span(200, 260))
    val corpus = Seq(a, b, c, d).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_staged").toString + "/idx"
    val conf = spark.sparkContext.hadoopConfiguration
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    val victims = Seq(b).toDF("doc_id", "text")
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("cluster.stage")(
        ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "t1"))
    }
    // mid-removal state: the barrier is live — probes/assignments blind,
    // the victim id refuses re-ingest, the fingerprint already tracks
    // the survivors (window A committed it)
    assert(LogicalDelete.pendingBatches(conf, dir) === Seq("rm.t1"),
      "the victim barrier must pend while the staging window is open")
    assert(!assignMap(dir).contains(20L),
      "assignments must be blind behind the barrier")
    val exDead = intercept[IllegalArgumentException] {
      ClusterIndex.append(Seq((20L, "new text under the mid-removal id"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, tag = "apx")
    }
    assert(exDead.getMessage.contains("logically deleted"), exDead.getMessage)
    // an UNRELATED ingest proceeds mid-removal (the whole point of the
    // staged path: no lease is held between the windows) — and this
    // append invalidates the staged plan's tag snapshot, so the replay
    // must take the rediscovery fallback and still converge
    ClusterIndex.append(Seq((50L, span(300, 360))).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "mid1")
    // the replay completes the removal
    ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "t1")
    val after = assignMap(dir)
    assert(after === Map(10L -> 10L, 30L -> 30L, 40L -> 40L, 50L -> 50L),
      s"replay must split the bridge AND keep the interleaved append: $after")
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty,
      "the barrier must clear with the removal")
    val survivors = Seq(a, c, d, (50L, span(300, 360))).toDF("doc_id", "text")
    assert(ClusterIndex.isFresh(spark, dir, survivors, "doc_id", "text"),
      "fingerprint must track survivors + the interleaved append exactly")
    // no victim residue in any table
    val root = graft.operators.IndexMaintenance.liveRoot(conf, dir)
    Seq("toks", "postings", "assign").foreach { t =>
      assert(spark.read.parquet(s"$root/$t")
        .filter(col("doc_id") === 20L).count() == 0L, s"$t holds victim rows")
    }
    assert(spark.read.parquet(s"$root/edges")
      .filter(col("u") === 20L || col("v") === 20L).count() == 0L,
      "edge log holds victim endpoints")
    // completed replay is a NO-OP: after a re-ingest of the freed id,
    // re-firing the old removal must not erase the new document (the
    // physical face of the ADVICE r13 completed-replay rule)
    ClusterIndex.append(Seq((20L, "fresh post-removal content twenty"))
      .toDF("doc_id", "text"), "doc_id", "text", dir, tag = "re20")
    ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "t1")
    assert(assignMap(dir).contains(20L),
      "a completed replay must not erase the re-ingested document")
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty,
      "a completed replay must not re-write the barrier")
  }

  test("staged remove: an interleaved append that BRIDGES an affected component falls back correctly (r15)") {
    // the plan-validity membership check, on the HARD shape
    // (review-caught r15: the first version of this test removed a
    // non-label victim, where a stale-plan commit happens to coincide
    // with the correct answer): the victim is doc 10 — the COMPONENT
    // LABEL CARRIER — so the stale plan's newassign (20 -> 20, 30 ->
    // 20, computed before the newcomer existed) and the correct answer
    // diverge on the newcomer, which bridges survivor 30 AFTER the plan
    // staged and carries the dissolved label 10. A replay that
    // committed the stale plan without validation leaves 60 -> 10
    // stranded in a dead component.
    import graft.operators.FaultInjection
    val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
    val c = (30L, span(10, 60))
    val corpus = Seq(a, b, c).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_stbr").toString + "/idx"
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    assert(assignMap(dir) === Map(10L -> 10L, 20L -> 10L, 30L -> 10L))
    val victims = Seq(a).toDF("doc_id", "text")
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("cluster.stage")(
        ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "t1"))
    }
    // doc 60 re-crawls C's text mid-window: it bridges survivor 30 and
    // is labeled with the still-unsplit component 10 — the dissolved
    // label the stale plan knows nothing about
    ClusterIndex.append(Seq((60L, span(10, 60))).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "mid1")
    ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "t1")
    val after = assignMap(dir)
    assert(after === Map(20L -> 20L, 30L -> 20L, 60L -> 20L),
      s"the newcomer must join the re-split component, not a dead label: $after")
    // and the state equals a fresh build over the survivors + newcomer
    val freshDir = java.nio.file.Files.createTempDirectory("rm_stbr_f").toString
    ClusterIndex.build(Seq(b, c, (60L, span(10, 60))).toDF("doc_id", "text"),
      "doc_id", "text", freshDir)
    assert(after === assignMap(freshDir))
  }

  test("staged remove: crash MID-FLIP with an interleaved append repairs labels on replay (r15)") {
    // the REWRITE_STARTED discipline: after the flip begins, a replay
    // must complete from the plan (never re-validate against
    // half-applied state), restore any cut-mid-swap staged partitions,
    // and run the label-repair pass when appends were recorded after
    // the rewrites began. cluster.assign fires right after the assign
    // flip leg — the widest mid-flip window.
    import graft.operators.{FaultInjection, LogicalDelete}
    val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
    val c = (30L, span(10, 60))
    val corpus = Seq(a, b, c).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_flip2").toString + "/idx"
    val conf = spark.sparkContext.hadoopConfiguration
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    val victims = Seq(a).toDF("doc_id", "text")
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("cluster.assign")(
        ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "t1"))
    }
    // mid-crash-window append: doc 60 re-crawls C's text
    ClusterIndex.append(Seq((60L, span(10, 60))).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "mid1")
    ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "t1")
    val after = assignMap(dir)
    assert(after === Map(20L -> 20L, 30L -> 20L, 60L -> 20L),
      s"mid-flip replay must converge with the interleaved append: $after")
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty,
      "the barrier must clear with the replay")
    val root = graft.operators.IndexMaintenance.liveRoot(conf, dir)
    Seq("toks", "postings", "assign").foreach { t =>
      assert(spark.read.parquet(s"$root/$t")
        .filter(col("doc_id") === 10L).count() == 0L, s"$t holds victim rows")
    }
    assert(spark.read.parquet(s"$root/edges")
      .filter(col("u") === 10L || col("v") === 10L).count() == 0L,
      "edge log holds victim endpoints")
    assert(ClusterIndex.isFresh(spark, dir,
      Seq(b, c, (60L, span(10, 60))).toDF("doc_id", "text"), "doc_id", "text"),
      "fingerprint must track survivors + the interleaved append")
  }

  test("text/vector remove crash windows: fingerprint never subtracts twice") {
    removalCrashMatrix("text", "vector")
  }

  test("text remove replay preserves the vhb plan without _SUCCESS markers") {
    // ADVICE r12: plan presence was probed via the parquet committer's
    // _SUCCESS marker. Deployments that disable marksuccessfuljobs
    // (common object-store tuning) never write one — a replay after the
    // parallel toks leg completed but bands did not would recompute vHb
    // from the now-empty toks table and OVERWRITE the plan with an empty
    // bucket list, leaving the victims' band rows alive forever while
    // meta already recorded them subtracted. Presence must be the
    // explicit VHB_READY marker / surviving part files, never _SUCCESS.
    import graft.operators.FaultInjection
    val docs = (0 until 12)
      .map(i => (i.toLong, s"doc $i same shared boilerplate body"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_vhb").toString + "/idx"
    TextIndex.build(docs, "doc_id", "text", dir)
    val victims = docs.filter(col("doc_id") === 5L)
    // crash right after the removal state: plan + commit persisted, no
    // rewrite leg has run (the commit is rows-first)
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("text.state")(
        TextIndex.remove(victims, "doc_id", "text", dir, tag = "t1"))
    }
    val root = graft.operators.IndexMaintenance.liveRoot(
      spark.sparkContext.hadoopConfiguration, dir)
    // simulate the toks leg having completed before the crash (the legs
    // run concurrently, so this interleaving is real)
    graft.operators.TargetedDelete.delete(spark, s"$root/toks",
      Seq("idb"), "doc_id", Seq(5L).toDF("doc_id"))
    // simulate marksuccessfuljobs=false: strip every _SUCCESS under the
    // removal state dir (the committer would simply never have written
    // them on such a deployment)
    val rmstate = new java.io.File(s"$dir/rmstate")
    def stripSuccess(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(stripSuccess)
      else if (f.getName == "_SUCCESS") assert(f.delete())
    }
    assert(rmstate.isDirectory, "crashed removal must leave its state dir")
    stripSuccess(rmstate)
    // the replay must drive the bands prune from the PERSISTED plan —
    // recomputing from the emptied toks table would prune nothing
    TextIndex.remove(victims, "doc_id", "text", dir, tag = "t1")
    assert(spark.read.parquet(s"$root/bands")
      .filter(col("doc_id") === 5L).count() == 0L,
      "victim band rows survived the replay — the vhb plan was lost")
    assert(TextIndex.isFresh(spark, dir,
      docs.filter(col("doc_id") =!= 5L), "doc_id", "text"))
    // and probes are blind to the victim's content
    assert(TextIndex.probe(spark, dir,
      Seq((900L, "doc 5 same shared boilerplate body")).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0L)
  }

  test("a crashed removal blocks NEW removals under other tags until replayed") {
    // review-caught: a different tag's surviving rmstate means the
    // tables are half-rewritten — running a new removal's discovery on
    // them violates the plan-first pristine premise, and the crashed
    // legs would never replay (victims lingering while meta already
    // subtracted them). remove() must refuse until the crashed removal
    // is replayed to completion under its own tag.
    import graft.operators.FaultInjection
    val a = (10L, span(0, 50)); val b = (20L, span(5, 55))
    val c = (30L, span(200, 260)); val d = (40L, span(400, 460))
    val corpus = Seq(a, b, c, d).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_xtag").toString + "/idx"
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("cluster.record")(
        ClusterIndex.remove(Seq(b).toDF("doc_id", "text"),
          "doc_id", "text", dir, tag = "t1"))
    }
    val ex = intercept[IllegalArgumentException] {
      ClusterIndex.remove(Seq(c).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "t2")
    }
    assert(ex.getMessage.contains("never completed"), ex.getMessage)
    // replay t1 to completion; t2 then proceeds
    ClusterIndex.remove(Seq(b).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "t1")
    ClusterIndex.remove(Seq(c).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "t2")
    assert(assignMap(dir) === Map(10L -> 10L, 40L -> 40L))
    assert(ClusterIndex.isFresh(spark, dir,
      Seq(a, d).toDF("doc_id", "text"), "doc_id", "text"))
  }

  test("remove refuses victims from an append whose merge never recorded") {
    // the MID-append crash window: a batch's rows landed but its
    // fingerprint merge never committed (no tagfp record). Subtracting
    // such a victim would remove a fingerprint that was never added —
    // remove() must refuse it loudly, while victims from committed
    // provenance ('build' or recorded tags) still take down fine.
    val docs = (0 until 10)
      .map(i => (i.toLong, s"midcrash doc $i with shared boilerplate words"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_mid").toString + "/idx"
    TextIndex.build(docs, "doc_id", "text", dir)
    val delta = Seq((100L, "the crashed append's novel document body here"))
      .toDF("doc_id", "text")
    TextIndex.append(delta, "doc_id", "text", dir, tag = "mid1")
    // simulate the window: drop the merge record, keep the rows
    val conf = spark.sparkContext.hadoopConfiguration
    val rec = new org.apache.hadoop.fs.Path(s"$dir/tagfp/mid1")
    assert(rec.getFileSystem(conf).delete(rec, false), "fixture: record must exist")
    val ex = intercept[IllegalArgumentException] {
      TextIndex.remove(delta, "doc_id", "text", dir, tag = "t1")
    }
    assert(ex.getMessage.contains("never committed"), ex.getMessage)
    // a committed-provenance victim still removes normally
    TextIndex.remove(docs.filter(col("doc_id") === 3L),
      "doc_id", "text", dir, tag = "t2")
    assert(TextIndex.probe(spark, dir,
      Seq((900L, "midcrash doc 3 with shared boilerplate words"))
        .toDF("doc_id", "text"), "doc_id", "text").count() == 0L)
  }

  test("MASS-victim remove (join path): 20% of corpus, equals fresh build on survivors") {
    // VERDICT r11 item 1: above the key threshold every victim join
    // (vids/comps semi-joins, the either-endpoint edge delete) must run
    // WITHOUT broadcast hints or collected literal lists and still be
    // exactly equivalent. Corpus: 60 near-dup chains of 5 (their middle
    // doc is the bridge) + 100 singletons = 400 docs; victims = every
    // chain's bridge + 40 singletons = 100 docs (25%).
    val chains = (0 until 60).flatMap { c =>
      val base = c * 1000
      (0 until 5).map(j => ((c * 10 + j).toLong, span(base + 5 * j, base + 5 * j + 50)))
    }
    val singles = (0 until 100).map(i => ((10000 + i).toLong, span(100000 + i * 200, 100000 + i * 200 + 60)))
    val corpus = (chains ++ singles).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_mass").toString + "/idx"
    ClusterIndex.build(corpus, "doc_id", "text", dir)
    // victims: doc j==2 of every chain (the middle — splits the chain in
    // two) and singletons 10000..10039
    val victims = corpus.filter(
      (col("doc_id") < 10000L && col("doc_id") % 10 === 2) ||
        (col("doc_id") >= 10000L && col("doc_id") < 10040L))
      .localCheckpoint()
    assert(victims.count() == 100L)
    System.setProperty("graft.delete.broadcastKeys", "10")
    try ClusterIndex.remove(victims, "doc_id", "text", dir, tag = "mass1")
    finally System.clearProperty("graft.delete.broadcastKeys")
    val survivors = corpus.join(victims.select(col("doc_id")),
      Seq("doc_id"), "left_anti").localCheckpoint()
    val freshDir = java.nio.file.Files.createTempDirectory("rm_mass_f").toString
    ClusterIndex.build(survivors, "doc_id", "text", freshDir)
    assert(assignMap(dir) === assignMap(freshDir),
      "join-path mass removal must equal a fresh build on the survivors")
    assert(ClusterIndex.isFresh(spark, dir, survivors, "doc_id", "text"))
    // no victim row survives in any table, edges included
    val root = graft.operators.IndexMaintenance.liveRoot(
      spark.sparkContext.hadoopConfiguration, dir)
    val vSet = victims.select("doc_id").as[Long].collect().toSet
    Seq("toks", "postings", "assign").foreach { t =>
      val leak = spark.read.parquet(s"$root/$t")
        .filter(col("doc_id").isin(vSet.toSeq: _*)).count()
      assert(leak == 0L, s"$t still holds $leak victim rows")
    }
    val edgeLeak = spark.read.parquet(s"$root/edges")
      .filter(col("u").isin(vSet.toSeq: _*) || col("v").isin(vSet.toSeq: _*))
      .count()
    assert(edgeLeak == 0L, s"edge log still holds $edgeLeak victim rows")
  }

  test("MASS-victim text, term and vector remove (join path): victims gone, wrong content refused") {
    // above the key-set bound the victim checks merge their digests in a
    // shuffle, not on the driver: the same refusals and the same result
    val docs = (0 until 60)
      .map(i => (i.toLong, s"document number $i about topic ${i % 7} and more words"))
      .toDF("doc_id", "text").localCheckpoint()
    val victims = docs.filter(col("doc_id") % 3 === 0L).localCheckpoint()
    val survivors = docs.filter(col("doc_id") % 3 =!= 0L)
    val corpus = Tables.embeddings(spark, sf0001).localCheckpoint()
    val vVictims = corpus.filter(col("vec_id") % 4 === 0L).localCheckpoint()
    def tmp(n: String) = java.nio.file.Files.createTempDirectory(n).toString + "/idx"
    val (txt, term, vec) = (tmp("rm_mass_tx"), tmp("rm_mass_tm"), tmp("rm_mass_vec"))
    TextIndex.build(docs, "doc_id", "text", txt)
    TermIndex.build(docs, "doc_id", "text", term)
    VectorIndex.build(corpus, vec, nlist = 8)
    val wrong = victims.withColumn("text", concat(col("text"), lit(" edited")))
    val wrongVec = vVictims.withColumn("embedding", expr("transform(embedding, x -> x + 1.0)"))
    System.setProperty("graft.delete.broadcastKeys", "5")
    try {
      assert(intercept[IllegalArgumentException](
        TextIndex.remove(wrong, "doc_id", "text", txt, tag = "bad")).getMessage.contains("indexed"))
      assert(intercept[IllegalArgumentException](
        TermIndex.remove(wrong, "doc_id", "text", term, tag = "bad")).getMessage.contains("indexed"))
      assert(intercept[IllegalArgumentException](
        VectorIndex.remove(wrongVec, vec, tag = "bad")).getMessage.contains("indexed"))
      TextIndex.remove(victims, "doc_id", "text", txt, tag = "mass")
      TermIndex.remove(victims, "doc_id", "text", term, tag = "mass")
      VectorIndex.remove(vVictims, vec, tag = "mass")
    } finally System.clearProperty("graft.delete.broadcastKeys")
    assert(TextIndex.isFresh(spark, txt, survivors, "doc_id", "text"))
    assert(TermIndex.isFresh(spark, term, survivors, "doc_id", "text"))
    assert(VectorIndex.isFresh(spark, vec, corpus.filter(col("vec_id") % 4 =!= 0L)))
    val conf = spark.sparkContext.hadoopConfiguration
    def leak(dir: String, table: String, c: String, ids: Set[Long]) =
      spark.read.parquet(s"${graft.operators.IndexMaintenance.liveRoot(conf, dir)}/$table")
        .filter(col(c).isin(ids.toSeq: _*)).count()
    val vIds = victims.select("doc_id").as[Long].collect().toSet
    val vecIds = vVictims.select("vec_id").as[Long].collect().toSet
    assert(vIds.size == 20 && vecIds.size > 5)
    assert(leak(txt, "toks", "doc_id", vIds) == 0L && leak(txt, "bands", "doc_id", vIds) == 0L)
    assert(leak(term, "postings", "doc_id", vIds) == 0L && leak(term, "dl", "doc_id", vIds) == 0L)
    assert(leak(vec, "cells", "vec_id", vecIds) == 0L)
  }

  test("text index remove: probes go blind, fingerprint tracks survivors, replay-safe") {
    val docs = (0 until 20)
      .map(i => (i.toLong, s"document number $i with some shared boilerplate text"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rm_tx").toString + "/idx"
    TextIndex.build(docs, "doc_id", "text", dir)
    val clone7 = Seq((900L, "document number 7 with some shared boilerplate text"))
      .toDF("doc_id", "text")
    assert(TextIndex.probe(spark, dir, clone7, "doc_id", "text").count() == 1L,
      "pre-remove: the clone must flag against doc 7")
    val victims = docs.filter(col("doc_id") === 7L)
    TextIndex.remove(victims, "doc_id", "text", dir, tag = "take1")
    assert(TextIndex.probe(spark, dir, clone7, "doc_id", "text").count() == 0L,
      "post-remove: the clone of the deleted doc must match nothing")
    val clone3 = Seq((901L, "document number 3 with some shared boilerplate text"))
      .toDF("doc_id", "text")
    val hits = TextIndex.probe(spark, dir, clone3, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(901L -> 3L), s"surviving docs must still match: $hits")
    val survivors = docs.filter(col("doc_id") =!= 7L)
    assert(TextIndex.isFresh(spark, dir, survivors, "doc_id", "text"))
    assert(!TextIndex.isFresh(spark, dir, docs, "doc_id", "text"))
    // replay: no double subtraction
    TextIndex.remove(victims, "doc_id", "text", dir, tag = "take1")
    assert(TextIndex.isFresh(spark, dir, survivors, "doc_id", "text"))
    // removal also erases duplicate rows from a crashed append replay
    val extra = Seq((100L, "a wholly novel appended document about glaciers"))
      .toDF("doc_id", "text")
    TextIndex.append(extra, "doc_id", "text", dir, tag = "ap1")
    TextIndex.append(extra, "doc_id", "text", dir, tag = "ap1") // replayed rows
    TextIndex.remove(extra, "doc_id", "text", dir, tag = "take2")
    val root = graft.operators.IndexMaintenance.liveRoot(
      spark.sparkContext.hadoopConfiguration, dir)
    assert(spark.read.parquet(s"$root/bands")
      .filter(col("doc_id") === 100L).count() == 0L,
      "every duplicated band row of the victim must be gone")
    assert(TextIndex.isFresh(spark, dir, survivors, "doc_id", "text"),
      "append+remove of the same delta must round-trip the fingerprint")
  }

  test("vector index remove: dup-probe and top-k go blind, replay-safe") {
    val corpus = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("rm_vec").toString + "/idx"
    VectorIndex.build(corpus, dir, nlist = 8)
    val v7 = corpus.filter(col("vec_id") === 7L)
    val clone = v7.select(lit(900L).as("vec_id"), col("embedding"))
      .localCheckpoint()
    val pre = VectorIndex.probeDups(spark, dir, clone, tau = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pre == Map(900L -> 7L), s"pre-remove the clone must flag: $pre")
    VectorIndex.remove(v7, dir, tag = "take1")
    assert(VectorIndex.probeDups(spark, dir, clone, tau = 0.99).count() == 0L,
      "post-remove the clone must match nothing")
    val probes = clone.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val top = VectorIndex.topK(spark, dir, probes, k = 5, nprobe = 8)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(!top.contains(7L), "top-k must not return the removed vector")
    val survivors = corpus.filter(col("vec_id") =!= 7L)
    assert(VectorIndex.isFresh(spark, dir, survivors))
    assert(!VectorIndex.isFresh(spark, dir, corpus))
    VectorIndex.remove(v7, dir, tag = "take1") // replay
    assert(VectorIndex.isFresh(spark, dir, survivors),
      "replayed remove must not drift the fingerprint")
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.remove(corpus.filter(col("vec_id") === 7L)
        .select((col("vec_id") + 5000L).as("vec_id"), col("embedding")),
        dir, tag = "take2")
    }
    assert(ex.getMessage.contains("indexed"))
  }
}
