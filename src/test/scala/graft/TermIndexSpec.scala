package graft

import org.apache.spark.sql.functions._
import graft.operators.{Fingerprint, IndexMaintenance, LogicalDelete, TermIndex}

/** The persisted BM25 family must equal the closed-form fan-out
  * value-for-value (same decimal accumulation, same rounding, same tie
  * order), stay equal through its whole lifecycle (append == fresh
  * build on the union, logical remove == fresh build on the survivors,
  * before AND after the physical reclaim), keep its appends
  * exactly-once under crash replay (ranking SUMS cannot tolerate the
  * duplicate rows the match-once families shrug off), and read only
  * the query terms' buckets. */
class TermIndexSpec extends SparkSpec with RemovalCrashMatrix {
  import spark.implicits._
  import IndexFixtures.tmpIdx

  private val k1 = 1.2; private val b = 0.75

  /** Driver-side reference scorer with the exact rounding contract:
    * round-half-up each term's contribution at 6 dp, sum exactly,
    * round the total at 4 dp, rank by (score desc, id). */
  private def reference(docs: Seq[(Long, String)], queries: Seq[(Long, String)],
                        k: Int): Seq[(Long, Int, Long, Double)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val dl = toks.map { case (id, ts) => id -> ts.length.toDouble }
    val n = docs.size.toDouble
    val avgdl = dl.values.sum / n
    def r(x: Double, scale: Int): BigDecimal =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
    queries.flatMap { case (qid, q) =>
      val qts = q.split(" ").toSet
      val scored = docs.flatMap { case (id, _) =>
        val contributions = qts.toSeq.flatMap { term =>
          val tf = toks(id).count(_ == term).toDouble
          if (tf == 0) None
          else {
            val df = docs.count(d => toks(d._1).contains(term)).toDouble
            val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            Some(r(idf * tf * (k1 + 1) /
              (tf + k1 * (1 - b + b * dl(id) / avgdl)), 6))
          }
        }
        if (contributions.isEmpty) None
        else Some(id -> r(contributions.sum.toDouble, 4).toDouble)
      }
      scored.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
        .map { case ((id, s), i) => (qid, i + 1, id, s) }
    }
  }

  private def collectTopK(dir: String, queries: Seq[(Long, String)],
                          k: Int = 10): Seq[(Long, Int, Long, Double)] =
    TermIndex.topK(spark, dir, queries.toDF("query_id", "q"), k = k)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))

  private val corpus = IndexFixtures.termCorpus
  private val queries = Seq((1L, "spark join"), (2L, "data lake guide"))

  test("build + topK == the driver-side closed form, value-exact") {
    val dir = tmpIdx("term_b")
    TermIndex.build(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(collectTopK(dir, queries) === reference(corpus, queries, 10))
  }

  test("append == fresh build on the union; crash replay exactly-once; tag reuse refuses") {
    val (half, rest) = corpus.splitAt(4)
    val dir = tmpIdx("term_a")
    TermIndex.build(half.toDF("doc_id", "text"), "doc_id", "text", dir)
    TermIndex.append(rest.toDF("doc_id", "text"), "doc_id", "text", dir,
      tag = "b1")
    val fresh = tmpIdx("term_af")
    TermIndex.build(corpus.toDF("doc_id", "text"), "doc_id", "text", fresh)
    assert(collectTopK(dir, queries) === collectTopK(fresh, queries))
    assert(TermIndex.isFresh(spark, dir, corpus.toDF("doc_id", "text"),
      "doc_id", "text"))
    // crash replay: the same (tag, delta) re-appends with NO score drift
    // — a duplicated tf row would change every sum it touches
    TermIndex.append(rest.toDF("doc_id", "text"), "doc_id", "text", dir,
      tag = "b1")
    assert(collectTopK(dir, queries) === collectTopK(fresh, queries),
      "replayed append must be exactly-once in the ranking sums")
    // a DIFFERENT batch under the used tag would destroy b1's rows
    val ex = intercept[IllegalArgumentException] {
      TermIndex.append(Seq((9L, "new doc")).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "b1")
    }
    assert(ex.getMessage.contains("already used"), ex.getMessage)
  }

  test("logicalRemove: blind + survivor-exact stats immediately; compact reclaims; == fresh build on survivors") {
    val dir = tmpIdx("term_lr")
    TermIndex.build(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    val victims = corpus.filter(d => d._1 == 3L || d._1 == 5L)
    val survivors = corpus.filterNot(d => d._1 == 3L || d._1 == 5L)
    TermIndex.logicalRemove(victims.toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "rm1")
    val fresh = tmpIdx("term_lrf")
    TermIndex.build(survivors.toDF("doc_id", "text"), "doc_id", "text", fresh)
    // BEFORE any reclaim: scores — df, N, avgdl included — must equal a
    // fresh build on the survivors, not just hide the victim rows
    assert(collectTopK(dir, queries) === collectTopK(fresh, queries),
      "logical remove must be survivor-exact immediately")
    assert(collectTopK(dir, queries) === reference(survivors, queries, 10))
    assert(TermIndex.isFresh(spark, dir,
      survivors.toDF("doc_id", "text"), "doc_id", "text"))
    // a dead id refuses re-ingest until reclaim
    val ex = intercept[IllegalArgumentException] {
      TermIndex.append(Seq((3L, "recycled")).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "re3")
    }
    assert(ex.getMessage.contains("logically deleted"), ex.getMessage)
    // wrong-content victims refuse (fingerprint integrity)
    val ex2 = intercept[IllegalArgumentException] {
      TermIndex.logicalRemove(Seq((1L, "not what was ingested"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, tag = "rm2")
    }
    assert(ex2.getMessage.contains("matching content"), ex2.getMessage)
    // reclaim
    TermIndex.compact(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty)
    assert(collectTopK(dir, queries) === collectTopK(fresh, queries))
    val root = IndexMaintenance.liveRoot(conf, dir)
    assert(spark.read.parquet(s"$root/dl")
      .filter(col("doc_id").isin(3L, 5L)).count() == 0L,
      "victim rows must leave disk at reclaim")
    // the id is live again
    TermIndex.append(Seq((3L, "recycled content")).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "re3b")
    assert(collectTopK(dir, Seq((9L, "recycled")))
      .exists(_._3 == 3L), "reclaimed id must re-ingest")
  }

  test("compact folds accreted append files to one per partition; ranking unchanged") {
    val dir = tmpIdx("term_cf")
    val (seed, rest) = corpus.splitAt(5)
    TermIndex.build(seed.toDF("doc_id", "text"), "doc_id", "text", dir)
    rest.zipWithIndex.foreach { case (doc, i) =>
      TermIndex.append(Seq(doc).toDF("doc_id", "text"), "doc_id", "text",
        dir, tag = s"a$i")
    }
    val before = collectTopK(dir, queries)
    TermIndex.compact(spark, dir)
    assert(collectTopK(dir, queries) === before,
      "the fold is pure I/O — ranking must not move")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = graft.operators.IndexMaintenance.liveRoot(conf, dir)
    Seq("postings", "dl").foreach { t =>
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      val leafDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$t"))
        .filter(_.isDirectory)
        .flatMap(d => fs.listStatus(d.getPath).filter(_.isDirectory))
      leafDirs.foreach { p =>
        val n = fs.listStatus(p.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        assert(n <= 1, s"$t partition ${p.getPath.getName} holds $n files " +
          "after compact — the small-files fold lost its bound")
      }
      assert(leafDirs.nonEmpty, s"$t must keep its partition structure")
    }
    // and the lifecycle keeps working post-cutover
    TermIndex.append(Seq((20L, "post compact doc")).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "pc")
    assert(collectTopK(dir, Seq((9L, "compact"))).exists(_._3 == 20L))
  }

  private def metaStats(dir: String) = IndexFixtures.termMetaStats(spark, dir)
  private def storedStats(dir: String) = IndexFixtures.termStoredStats(spark, dir)

  test("meta corpus stats stay survivor-exact through the whole lifecycle (r16)") {
    val dir = tmpIdx("term_ms")
    val (seed, rest) = corpus.splitAt(5)
    TermIndex.build(seed.toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(metaStats(dir) === storedStats(dir), "after build")
    TermIndex.append(rest.toDF("doc_id", "text"), "doc_id", "text", dir,
      tag = "ms1")
    assert(metaStats(dir) === storedStats(dir), "after append")
    // crash-replayed append must not double-add sum_dl
    TermIndex.append(rest.toDF("doc_id", "text"), "doc_id", "text", dir,
      tag = "ms1")
    assert(metaStats(dir) === storedStats(dir), "after replayed append")
    TermIndex.logicalRemove(corpus.filter(_._1 == 6L).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "msrm")
    assert(metaStats(dir) === storedStats(dir),
      "after logicalRemove: meta must subtract exactly what the tombstones hide")
    TermIndex.compact(spark, dir)
    assert(metaStats(dir) === storedStats(dir), "after compact (reclaim)")
    // and the number is the real token total, not just self-consistent
    val expect = corpus.filterNot(_._1 == 6L)
    assert(metaStats(dir) === (expect.size.toLong,
      expect.map(_._2.split(" ").length.toLong).sum))
  }

  test("logicalRemove crash + interleaved append: replay lands survivor-exact stats (r16)") {
    import graft.operators.FaultInjection
    // crash AFTER the removal state commits but BEFORE the meta write,
    // let an append land mid-removal, then replay: the resolver's addend
    // rule must keep the fingerprint AND sum_dl exact (sum_dl rides the
    // same atomic meta writes, so the two move component-wise together)
    val dir = tmpIdx("term_il")
    TermIndex.build(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    val victims = corpus.filter(_._1 == 3L)
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("term.logical.state")(
        TermIndex.logicalRemove(victims.toDF("doc_id", "text"),
          "doc_id", "text", dir, tag = "il1"))
    }
    val late = Seq((40L, "fresh interleaved doc"))
    TermIndex.append(late.toDF("doc_id", "text"), "doc_id", "text", dir,
      tag = "il_a")
    TermIndex.logicalRemove(victims.toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "il1") // replay converges
    assert(metaStats(dir) === storedStats(dir))
    // scores equal a fresh build on (survivors + the late append), with
    // the checkStats tripwire armed so meta is validated in-path too
    val fresh = tmpIdx("term_ilf")
    TermIndex.build((corpus.filterNot(_._1 == 3L) ++ late)
      .toDF("doc_id", "text"), "doc_id", "text", fresh)
    spark.conf.set("graft.term.checkStats", "true")
    try assert(collectTopK(dir, queries) === collectTopK(fresh, queries))
    finally spark.conf.unset("graft.term.checkStats")
  }

  test("remove: physical verb == fresh build on survivors, value-exact; rows leave disk; replay no-ops; wrong content refuses (r17)") {
    val dir = tmpIdx("term_rm")
    val conf = spark.sparkContext.hadoopConfiguration
    TermIndex.build(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    val victims = corpus.filter(d => d._1 == 3L || d._1 == 5L)
    val survivors = corpus.filterNot(d => d._1 == 3L || d._1 == 5L)
    // wrong-content victims refuse BEFORE anything mutates
    val ex = intercept[IllegalArgumentException] {
      TermIndex.remove(Seq((3L, "not what was ingested"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, tag = "bad")
    }
    assert(ex.getMessage.contains("matching content"), ex.getMessage)
    TermIndex.remove(victims.toDF("doc_id", "text"), "doc_id", "text", dir,
      tag = "rm1")
    val fresh = tmpIdx("term_rmf")
    TermIndex.build(survivors.toDF("doc_id", "text"), "doc_id", "text", fresh)
    spark.conf.set("graft.term.checkStats", "true")
    try assert(collectTopK(dir, queries) === collectTopK(fresh, queries),
      "physical remove must equal a fresh build on the survivors")
    finally spark.conf.unset("graft.term.checkStats")
    assert(metaStats(dir) === storedStats(dir))
    assert(TermIndex.isFresh(spark, dir,
      survivors.toDF("doc_id", "text"), "doc_id", "text"))
    // the strict-SLA contract: the victims' rows are GONE from disk NOW
    val root = IndexMaintenance.liveRoot(conf, dir)
    Seq("dl", "postings").foreach { t =>
      assert(spark.read.parquet(s"$root/$t")
        .filter(col("doc_id").isin(3L, 5L)).count() == 0L,
        s"victim rows must leave $t at remove(), not at the next compact")
    }
    // no tombstone pends (nothing left to reclaim)
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty)
    // IndexCheck stays green on the post-remove index (VERDICT r16 item 1)
    val report = IndexCheck.check(spark, dir)
    assert(report.ok, report.checks.filterNot(_.ok).mkString("; "))
    // completed replay no-ops (the id may have been legitimately re-ingested)
    TermIndex.remove(victims.toDF("doc_id", "text"), "doc_id", "text", dir,
      tag = "rm1")
    assert(collectTopK(dir, queries) === collectTopK(fresh, queries))
    // a different batch under the used tag refuses
    val ex2 = intercept[IllegalArgumentException] {
      TermIndex.remove(corpus.filter(_._1 == 1L).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "rm1")
    }
    assert(ex2.getMessage.contains("already used"), ex2.getMessage)
    // and the id is live again for re-ingest
    TermIndex.append(Seq((3L, "recycled content")).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "re3")
    assert(collectTopK(dir, Seq((9L, "recycled"))).exists(_._3 == 3L))
  }

  test("remove refuses while logical deletions pend reclaim (r17)") {
    val dir = tmpIdx("term_rmlp")
    TermIndex.build(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    TermIndex.logicalRemove(corpus.filter(_._1 == 2L).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "lr")
    val ex = intercept[IllegalArgumentException] {
      TermIndex.remove(corpus.filter(_._1 == 4L).toDF("doc_id", "text"),
        "doc_id", "text", dir, tag = "pr")
    }
    assert(ex.getMessage.contains("pending reclaim"), ex.getMessage)
  }

  test("remove after a logicalRemove of the same victims and tag keeps the tombstone: victims stay hidden") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tmpIdx("term_lrrm")
    TermIndex.build(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    val victims = corpus.filter(_._1 == 1L).toDF("doc_id", "text")
    assert(collectTopK(dir, queries).exists(_._3 == 1L), "fixture: doc 1 ranks")
    TermIndex.logicalRemove(victims, "doc_id", "text", dir, tag = "t1")
    // the same (tag, victims) pair reads as the completed removal: a
    // no-op, which must not clear the logical tombstone as its barrier
    TermIndex.remove(victims, "doc_id", "text", dir, tag = "t1")
    assert(LogicalDelete.pendingBatches(conf, dir) == Seq("rm.t1"),
      "the logical tombstone must survive the remove")
    assert(!collectTopK(dir, queries).exists(_._3 == 1L),
      "victim 1 must stay hidden while meta has subtracted it")
    assert(metaStats(dir) === storedStats(dir))
  }

  test("remove crash matrix: every boundary replays to survivor-exact stats and empty victim rows (r17)") {
    removalCrashMatrix("term.remove")
  }

  test("remove tail window: a stale barrier after state cleanup only blocks re-ingest until the replay clears it (r17)") {
    import graft.operators.FaultInjection
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tmpIdx("term_tail")
    TermIndex.build(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    val victims = corpus.filter(_._1 == 3L)
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("term.remove.cleanup")(
        TermIndex.remove(victims.toDF("doc_id", "text"), "doc_id", "text",
          dir, tag = "tl1"))
    }
    // the window is BENIGN by construction: rows gone, meta survivor-
    // exact, no rmstate — only the barrier lingers, refusing re-ingest
    assert(Fingerprint.pendingRemovals(conf, dir).isEmpty)
    assert(LogicalDelete.pendingBatches(conf, dir) == Seq("rm.tl1"))
    assert(metaStats(dir) === storedStats(dir),
      "the tail window must never hold divergent stats")
    val ex = intercept[IllegalArgumentException] {
      TermIndex.append(Seq((3L, "blocked by stale barrier"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, tag = "tlb")
    }
    assert(ex.getMessage.contains("logically deleted"), ex.getMessage)
    // the completed replay clears its own leftover barrier...
    TermIndex.remove(victims.toDF("doc_id", "text"), "doc_id", "text", dir,
      tag = "tl1")
    assert(LogicalDelete.pendingBatches(conf, dir).isEmpty,
      "completedReplay must clear the stale barrier")
    // ...and the id is free again
    TermIndex.append(Seq((3L, "free again")).toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "tlc")
    assert(collectTopK(dir, Seq((9L, "free"))).exists(_._3 == 3L))
  }

  test("logicalRemove orders tombstone BEFORE meta: a crash in between leaves victims blind, stats lag, replay converges (r17, ADVICE r16)") {
    import graft.operators.FaultInjection
    val dir = tmpIdx("term_tb")
    TermIndex.build(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    val victims = corpus.filter(_._1 == 3L)
    intercept[FaultInjection.InjectedCrash] {
      FaultInjection.armed("term.logical.tombstone")(
        TermIndex.logicalRemove(victims.toDF("doc_id", "text"),
          "doc_id", "text", dir, tag = "tb1"))
    }
    // RTBF holds from the tombstone write: the victim is NOT returnable,
    // even though meta still carries its stats (served stats may lag the
    // served rows across this window — never lead them)
    assert(!collectTopK(dir, Seq((9L, "spark tuning"))).exists(_._3 == 3L),
      "victim must be blind the moment the tombstone lands")
    // the lagging-stats window is refused loudly under the tripwire
    spark.conf.set("graft.term.checkStats", "true")
    try {
      val ex = intercept[IllegalArgumentException] { collectTopK(dir, queries) }
      assert(ex.getMessage.contains("disagree"), ex.getMessage)
    } finally spark.conf.unset("graft.term.checkStats")
    // replay converges: survivor-exact stats, value-exact scores
    TermIndex.logicalRemove(victims.toDF("doc_id", "text"),
      "doc_id", "text", dir, tag = "tb1")
    assert(metaStats(dir) === storedStats(dir))
    val fresh = tmpIdx("term_tbf")
    TermIndex.build(corpus.filterNot(_._1 == 3L).toDF("doc_id", "text"),
      "doc_id", "text", fresh)
    spark.conf.set("graft.term.checkStats", "true")
    try assert(collectTopK(dir, queries) === collectTopK(fresh, queries))
    finally spark.conf.unset("graft.term.checkStats")
  }

  test("checkStats tripwire: drifted meta stats refuse loudly (r16)") {
    import spark.implicits._
    val dir = tmpIdx("term_cs")
    TermIndex.build(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = IndexMaintenance.liveRoot(conf, dir)
    // corrupt sum_dl by one token (simulated maintenance drift)
    val m = spark.read.parquet(s"$root/meta").head()
    Seq((m.getAs[Int]("n_buckets"), m.getAs[Long]("n_rows"),
        m.getAs[Long]("content_hash"), m.getAs[Long]("sum_dl") + 1L))
      .toDF("n_buckets", "n_rows", "content_hash", "sum_dl")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
    spark.conf.set("graft.term.checkStats", "true")
    try {
      val ex = intercept[IllegalArgumentException] { collectTopK(dir, queries) }
      assert(ex.getMessage.contains("disagree"), ex.getMessage)
    } finally spark.conf.unset("graft.term.checkStats")
  }

  test("topK reads only the candidate docs' dl buckets (r16)") {
    CountingMockFs.install(spark)
    val base = java.nio.file.Files.createTempDirectory("term_dlpr").toString
    val dir = s"mock://$base/idx"
    // one unique term per doc: a single-term query has exactly one
    // candidate doc, so exactly one dl idb bucket may be read
    val docs = (0L until 64L).map(i => (i, s"unique$i"))
    TermIndex.build(docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      nBuckets = 16)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = IndexMaintenance.liveRoot(conf, dir)
    val candIdb = Seq(3L).toDF("id")
      .select(pmod(xxhash64(col("id")), lit(16L))).head().getLong(0)
    val untouched = (0L until 16L).filterNot(_ == candIdb)
    def strayOpens: Seq[String] = untouched.flatMap(b =>
      CountingMockFs.openedUnder(s"$base/idx/dl/_src=build/idb=$b/"))
    CountingMockFs.reset()
    spark.read.parquet(s"$root/dl").schema
    val inferenceBaseline = strayOpens.size
    CountingMockFs.reset()
    collectTopK(dir, Seq((1L, "unique3")), k = 5)
    val stray = strayOpens
    assert(stray.size <= inferenceBaseline,
      s"query read ${stray.size} dl file(s) outside its candidates' idb " +
        s"buckets (schema inference alone reads $inferenceBaseline) — the " +
        s"r16 dl-join prune lost: ${stray.mkString(", ")}")
    assert(CountingMockFs.opensUnder(
      s"$base/idx/dl/_src=build/idb=$candIdb/") > 0,
      "positive control: the candidate's own dl bucket must be read")
  }

  test("topK reads only the query terms' postings buckets") {
    CountingMockFs.install(spark)
    val base = java.nio.file.Files.createTempDirectory("term_pr").toString
    val dir = s"mock://$base/idx"
    // many distinct terms spread across buckets
    val docs = (0L until 64L)
      .map(i => (i, s"term$i shared filler$i word${i % 7}"))
    TermIndex.build(docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      nBuckets = 16)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = IndexMaintenance.liveRoot(conf, dir)
    val q = Seq((1L, "term3 shared"))
    // the buckets this query is allowed to touch
    val touched = q.flatMap(_._2.split(" "))
      .map(t => Seq(t).toDF("term")
        .select(pmod(xxhash64(col("term")), lit(16L))).head().getLong(0))
      .toSet
    val untouched = (0L until 16L).filterNot(touched)
    def strayOpens: Seq[String] = untouched.flatMap(tb =>
      CountingMockFs.openedUnder(s"$base/idx/postings/_src=build/tb=$tb/"))
    // calibrate: schema inference alone opens a footer or two, wherever
    // they happen to live — the pruning assertion must not count those
    CountingMockFs.reset()
    spark.read.parquet(s"$root/postings").schema
    val inferenceBaseline = strayOpens.size
    CountingMockFs.reset()
    collectTopK(dir, q, k = 5)
    val stray = strayOpens
    assert(stray.size <= inferenceBaseline,
      s"query read ${stray.size} file(s) from postings buckets it has no " +
        s"terms in (schema inference alone reads $inferenceBaseline) — " +
        s"partition pruning lost: ${stray.mkString(", ")}")
    assert(touched.exists(tb => CountingMockFs.opensUnder(
      s"$base/idx/postings/_src=build/tb=$tb/") > 0),
      "positive control: the query's own buckets must be read")
  }
}
